"""Direct unit calls into worker-side kernels (round-4 verdict task
#5): pandas-UDAF bodies, UDTF row generators and Python-DataSource
readers normally execute inside UDF/datasource worker processes where
the settrace coverage harness (scripts/minicov.py) cannot see them.
These tests call the SAME functions in-process — both measuring them
and pinning their contracts independently of Spark's execution
machinery (the Spark-side integration tests keep certifying the
plumbing)."""

from __future__ import annotations

import datetime as dt

import pytest


def test_weighted_median_udaf_kernel(spark):
    # the @pandas_udf decorator needs an active SparkContext at module
    # import, hence the fixture — the kernel call itself is pure pandas
    import pandas as pd

    from polla_spark.functions.udaf import weighted_median_udaf

    # call the kernel beneath the @pandas_udf wrapper directly —
    # the wrapped form only runs inside a UDF worker
    kernel = weighted_median_udaf.func
    # weighted lower median: first value whose cumulative weight
    # reaches half the total (the q140 contract)
    assert kernel(pd.Series([10, 20, 30]), pd.Series([1, 1, 2])) == 20
    # a dominant weight drags the median onto its value
    assert kernel(pd.Series([5, 100]), pd.Series([9, 1])) == 5
    # unsorted input is sorted by value first
    assert kernel(pd.Series([30, 10, 20]), pd.Series([1, 1, 1])) == 20


def test_iter_chunks_kernel():
    import hashlib

    from polla_spark.functions.chunking import iter_chunks

    toks = [f"t{i}" for i in range(120)]
    chunks = list(iter_chunks(" ".join(toks)))
    # 50-token windows at stride 40: (idx, start, n_tokens)
    assert [c[:3] for c in chunks] == [(0, 0, 50), (1, 40, 50), (2, 80, 40)]
    # md5 is over the space-rejoined window
    want = hashlib.md5(" ".join(toks[:50]).encode()).hexdigest()
    assert chunks[0][3] == want
    # short text -> one whole-text chunk
    assert [c[:3] for c in iter_chunks("a b c")] == [(0, 0, 3)]


@pytest.fixture()
def fake_sources(monkeypatch):
    from polla_spark.sources import pozos

    def good(url=None, **kw):
        return {
            "fuente": url or "https://x/good",
            "fetched_at": "2026-05-01T12:00:00",
            "sha256": "abc",
            "estimado": True,
            "user_agent": "ua",
            "sorteo": 6001,
            "fecha": "2026-05-03",
            "montos": {"Loto": 100},
        }

    def bad(url=None, **kw):
        raise ValueError("fetch exploded")

    monkeypatch.setattr(pozos, "SOURCE_LOADERS", {"good": good, "bad": bad})
    monkeypatch.setattr(
        pozos, "normalize_sources",
        lambda req: ["good", "bad"] if req == ["all"] else req,
    )
    return good, bad


def test_payload_row_success_error_and_strict(fake_sources):
    from polla_spark.sources.datasource import _payload_row

    row = _payload_row("good", None, 30, 3, strict=False)
    assert row[0] == "good" and row[1] == "https://x/good"
    assert row[2] == dt.datetime(2026, 5, 1, 12, 0)  # ISO str -> naive dt
    assert row[7] == dt.date(2026, 5, 3)
    assert row[8] == {"Loto": 100} and row[9] is None

    # degraded mode: the failure becomes an error ROW
    err = _payload_row("bad", "https://x/bad", 30, 3, strict=False)
    assert err[0] == "bad" and err[2] is None
    assert "ValueError: fetch exploded" in err[9]

    # strict mode: the task fails
    with pytest.raises(ValueError):
        _payload_row("bad", None, 30, 3, strict=True)


def test_requested_sources_options(fake_sources):
    from polla_spark.sources.datasource import _requested_sources

    assert _requested_sources({}) == [("good", None), ("bad", None)]
    # url override and skip
    opts = {"sources": "good,bad", "url.good": "https://alt", "url.bad": "skip"}
    assert _requested_sources(opts) == [("good", "https://alt")]


def test_batch_reader_partitions_and_read(fake_sources):
    from polla_spark.sources.datasource import PozosReader

    r = PozosReader({"sources": "good,bad"})
    parts = r.partitions()
    assert [p.name for p in parts] == ["good", "bad"]
    rows = list(r.read(parts[0]))
    assert len(rows) == 1 and rows[0][0] == "good"
    # error row, not an exception, in default (degraded) mode
    rows = list(r.read(parts[1]))
    assert len(rows) == 1 and "ValueError" in rows[0][9]

    # all sources skipped -> one empty sentinel partition, zero rows
    r = PozosReader({"sources": "good", "url.good": "skip"})
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].name == ""
    assert list(r.read(parts[0])) == []


def test_stream_reader_offsets_and_replay(fake_sources):
    from polla_spark.sources.datasource import PozosSimpleStreamReader

    r = PozosSimpleStreamReader({"sources": "good", "maxpolls": "2"})
    assert r.initialOffset() == {"poll": 0}
    rows, off = r.read({"poll": 0})
    assert [t[0] for t in rows] == ["good"] and off == {"poll": 1}
    rows, off = r.read({"poll": 1})
    assert off == {"poll": 2}
    # caught up at maxpolls: offset stops advancing, batch is empty
    rows, off = r.read({"poll": 2})
    assert list(rows) == [] and off == {"poll": 2}
    # at-least-once replay re-fetches each skipped poll
    replay = list(r.readBetweenOffsets({"poll": 0}, {"poll": 2}))
    assert len(replay) == 2


def test_datasource_entry_points(fake_sources):
    from polla_spark.sources.datasource import (
        READER_SCHEMA,
        PozosDataSource,
        PozosReader,
        PozosSimpleStreamReader,
    )

    ds = PozosDataSource(options={"sources": "good"})
    assert PozosDataSource.name() == "pozos"
    assert ds.schema() == READER_SCHEMA
    assert isinstance(ds.reader(READER_SCHEMA), PozosReader)
    assert isinstance(ds.simpleStreamReader(READER_SCHEMA), PozosSimpleStreamReader)


def test_multimodal_resize_kernels():
    from polla_spark.operators.multimodal import (
        default_resize,
        fake_decode,
        fake_resize,
    )

    blob = b"\x01\x02\x03\x04" * 8
    out, codec = fake_resize(blob, 4, 4)
    assert isinstance(out, bytes) and codec
    feats = fake_decode(blob, "image")
    assert len(feats) == 4 and all(isinstance(x, int) for x in feats)
    # without PIL in the image, the default resolves to the fake
    kernel = default_resize()
    assert kernel(blob, 2, 2)[0]


def test_variant_try_semantics_null_malformed_rows(spark):
    """q185's errors-as-data contract on inputs the clean corpus never
    provides: malformed JSON, a fractional k, and a missing key must
    all become NULL k (grouped under a NULL bucket), never a task
    failure — and the oracle's json_valid + json_type + TRY_CAST
    mirror must agree, checked here against DuckDB directly. The
    json_type guard matters: writing the oracle as a bare TRY_CAST
    of the ->> text made DuckDB ROUND a quoted "3.7" to 4 where
    Spark's try_variant_get nulls it — this test caught that."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [
        ("view", '{"k": 7}'),
        ("view", "{not json"),
        ("view", '{"k": "3.7"}'),
        ("view", '{"other": 1}'),
        ("view", None),
    ]
    e = spark.createDataFrame(rows, "event_type string, props string")
    got = (
        e.select(
            "event_type",
            F.expr(
                "try_variant_get(try_parse_json(props), '$.k', 'int')"
            ).alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_valid"),
            F.sum("k").alias("sum_k"),
        )
        .collect()[0]
    )
    assert (got["n"], got["n_valid"], got["sum_k"]) == (5, 1, 7)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        "SELECT COUNT(*), COUNT(k), SUM(k) FROM ("
        "  SELECT CASE WHEN json_valid(props)"
        "              AND json_type(props, '$.k') IN ('UBIGINT', 'BIGINT')"
        "         THEN TRY_CAST(props->>'k' AS INT) END AS k"
        "  FROM t)"
    ).fetchone()
    assert (got["n"], got["n_valid"], got["sum_k"]) == want


def test_kmv_exact_below_k_and_merge_closed(spark):
    """q191's two load-bearing properties, pinned on synthetic data:
    (1) with fewer than K distinct values the sketch IS the set, so
    est == exact count; (2) min-k is merge-closed — the minima of a
    union equal the minima of the merged per-part minima, so
    micro-batch/partition cuts can never change the sketch."""
    from polla_spark.functions.kmv import (
        KMV_K,
        kmv_estimate,
        kmv_minima,
        kmv_union,
    )

    # (1) 100 distinct terms < K=256 -> est exactly 100
    small = spark.createDataFrame(
        [("s", f"term{i}") for i in range(100)] * 3, "scope string, term string"
    )
    row = kmv_estimate(kmv_minima(small)).first()
    assert (row["n_kept"], row["est"]) == (100, 100)

    # (2) >K distinct values split 3 ways: minima(whole) ==
    # minima(union of per-part minima), hence identical estimates
    terms = [f"v{i:05d}" for i in range(1000)]
    whole = spark.createDataFrame(
        [("s", t) for t in terms], "scope string, term string"
    )
    whole_min = {r["h"] for r in kmv_minima(whole).collect()}
    assert len(whole_min) == KMV_K
    part_minima = []
    for j in range(3):
        part = spark.createDataFrame(
            [("s", t) for t in terms[j::3]], "scope string, term string"
        )
        part_minima.append(kmv_minima(part))
    merged = part_minima[0]
    for p in part_minima[1:]:
        merged = merged.unionByName(p)
    remin = kmv_union(merged, scope="s")
    assert {r["h"] for r in remin.collect()} == whole_min


def test_kmv_hash_matches_duckdb(spark):
    """The 56-bit seeded-md5 fold must agree with the oracle's
    from_hex/BIT expression value-for-value — the portability that
    makes q191 oracle-exact rather than rows-only."""
    import duckdb

    from polla_spark.functions.kmv import kmv_hash
    from pyspark.sql import functions as F

    words = ["hello", "wörld", "", "a b", "ñandú", "123"]
    df = spark.createDataFrame([(w,) for w in words], "term string")
    got = {
        r["term"]: r["h"]
        for r in df.select("term", kmv_hash(F.col("term")).alias("h")).collect()
    }
    con = duckdb.connect()
    for w in words:
        want = con.execute(
            "SELECT CAST(from_hex(substr(md5(? || ':kmv'), 1, 14)) AS BIT)::BIGINT"
        , [w]).fetchone()[0]
        assert got[w] == want, w


def test_rank_bound_verify_aborts_on_corrupted_sketch(spark):
    """functions/quantiles.rank_bound_verify must ABORT in-plan when a
    sketch value violates the documented rank bound (the q177/q178
    loud-failure contract) — here a planted 'median' that is really
    the maximum."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from polla_spark.functions.quantiles import rank_bound_verify

    fact = spark.range(1000).select(
        F.lit("k").alias("key"), F.col("id").cast("double").alias("v")
    )
    bad = spark.createDataFrame(
        [("k", 1000, 0.5, 999.0)], "key string, n long, pct double, v double"
    )
    with _pytest.raises(Exception, match="rank guarantee violated"):
        rank_bound_verify(bad, fact, "key", "v", 100, tag="unit").collect()


def test_rank_bound_verify_passes_exact_quantile(spark):
    from pyspark.sql import functions as F

    from polla_spark.functions.quantiles import rank_bound_verify

    fact = spark.range(1000).select(
        F.lit("k").alias("key"), F.col("id").cast("double").alias("v")
    )
    ok = spark.createDataFrame(
        [("k", 1000, 0.5, 500.0)], "key string, n long, pct double, v double"
    )
    out = rank_bound_verify(ok, fact, "key", "v", 100, tag="unit").collect()
    assert len(out) == 1 and out[0]["verified"]


def test_bg_set_null_text_matches_duckdb(spark):
    """NULL text must yield a NULL bigram SET in BOTH engines so the
    bg agreement flag folds to the 0 pattern identically: without the
    explicit CASE, Spark builds [NULL] (size 1) while DuckDB strips
    the NULL to [] (size 0) and the overlap test diverges — the kind
    of latent parity bomb the committed corpora (no NULL texts) never
    detonate (r8 review finding)."""
    import duckdb

    from polla_spark.functions.linkage import BG_DUCK_EXPR, BG_SPARK_EXPR

    rows = [(1, None), (2, "hello world"), (3, ""), (4, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # compare as SETS: DuckDB's list_distinct does not preserve
    # element order, and the bg column is only ever consumed
    # set-wise (list_intersect sizes) — order is out of contract
    got = {
        r["doc_id"]: (frozenset(r["bg"]) if r["bg"] is not None else None)
        for r in df.selectExpr("doc_id", f"{BG_SPARK_EXPR} AS bg").collect()
    }
    con = duckdb.connect()
    want = {
        i: (frozenset(b) if b is not None else None)
        for i, b in con.execute(
            f"SELECT doc_id, {BG_DUCK_EXPR} AS bg FROM (VALUES "
            "(1, NULL), (2, 'hello world'), (3, ''), (4, 'x')"
            ") AS t(doc_id, text) ORDER BY doc_id"
        ).fetchall()
    }
    assert got == want
    assert got[1] is None                        # NULL in, NULL set out
    # and the downstream flag semantics: NULL set -> flag 0 via the
    # CASE in BOTH engines (fs_flag_cols' documented contract)
    assert got[3] == {""} and got[4] == {"x"}    # degenerate titles agree


def test_fs_flag_cols_fold_null_comparisons_to_zero(spark):
    """fs_flag_cols' CASE semantics on hand-checkable SNM neighbor
    pairs: a NULL source, length or shingle/bigram set folds its flag
    into the 0 pattern, never a NULL flag or a crash."""
    from polla_spark.functions.linkage import fs_flag_cols

    pairs = spark.createDataFrame(
        [
            # src pdf!=web; len NULL; jac disjoint; bg {zz}∩{ab,bc}=∅
            (1, "pdf", "web", None, 10, ["z z z"], ["a b c"], ["zz"], ["ab", "bc"]),
            # src equal; |10-11|*20 <= 21; jac equal; 2*|{ab}| >= min(2,2)
            (2, "web", "web", 10, 11, ["a b c"], ["a b c"], ["ab", "bc"], ["ab", "xy"]),
            # src NULL; len equal; jac/bg NULL side
            (3, None, None, 5, 5, None, ["a"], None, ["aa"]),
        ],
        "pair long, source_a string, source_b string, n_chars_a long, "
        "n_chars_b long, sha array<string>, shb array<string>, "
        "bg_a array<string>, bg_b array<string>",
    )
    got = {
        r["pair"]: (r["g1"], r["g2"], r["g3"], r["g4"])
        for r in pairs.select("pair", *fs_flag_cols()).collect()
    }
    assert got == {1: (0, 0, 0, 0), 2: (1, 1, 1, 1), 3: (0, 1, 0, 0)}
