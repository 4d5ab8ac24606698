"""Misra-Gries heavy-hitter sketch: the mergeable-summaries guarantees
(no false negatives above n/(k+1); estimates are bounded under-counts)
pinned against the exact census — the correctness gate for q177,
the adversarial-cardinality form of q175, and for the streaming
heavy-hitter sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from polla_spark.operators.sketch import heavy_hitters_sketch, mg_partials

SF_DIR = "/root/testdata/sf0.001"


def _exact(df, col):
    return {
        r["key"]: r["n"]
        for r in df.groupBy(F.col(col).cast("string").alias("key"))
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_sketch_guarantees_on_skewed_stream(spark):
    """Synthetic zipf-ish stream across 8 partitions: every key above
    the n/(k+1) support threshold MUST appear, and every estimate must
    be an under-count by at most n/(k+1)."""
    rows = (
        [("hot",)] * 5000
        + [("warm",)] * 800
        + [(f"tail{i % 997}",) for i in range(10000)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(8)
    k = 16
    n = len(rows)
    bound = n / (k + 1)
    truth = _exact(df, "key")
    got = {r["key"]: r["est"] for r in heavy_hitters_sketch(df, "key", k).collect()}

    assert len(got) <= k
    # no false negatives above the guarantee threshold
    for key, cnt in truth.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)
    # every estimate is an under-count within the bound
    for key, est in got.items():
        assert est <= truth[key], (key, est, truth[key])
        assert est >= truth[key] - bound, (key, est, truth[key], bound)


def test_sketch_superset_of_exact_heavy_hitters_on_corpus(spark):
    """On the documents token stream, with k sized for the q175
    support threshold (0.5% => k+1 > 200), the sketch must contain
    every exact heavy hitter q175 reports."""
    from polla_spark.plans.llmdata import q175_token_heavy_hitters

    tok = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split("text", "\\s+")).alias("term"))
    )
    exact_hh = {
        r["term"] for r in q175_token_heavy_hitters(spark, SF_DIR).collect()
    }
    assert exact_hh  # the corpus really has heavy hitters
    got = {
        r["key"]
        for r in heavy_hitters_sketch(tok.repartition(8), "term", 256).collect()
    }
    assert exact_hh <= got, exact_hh - got


def test_partials_are_bounded_per_partition(spark):
    """Each partition emits at most k candidate rows — the shuffle is
    partitions x k regardless of key cardinality."""
    rows = [(f"u{i}",) for i in range(20000)]  # 20k distinct keys
    df = spark.createDataFrame(rows, "key string").repartition(4)
    k = 32
    per = (
        mg_partials(df, "key", k)
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    assert all(r["count"] <= k for r in per), per


def test_fold_guarantee_property():
    """Hypothesis: the MG fold + merge algebra (the exact kernel the
    Spark path runs) keeps both mergeable-summaries guarantees on
    arbitrary streams, chunkings and k."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from polla_spark.operators.sketch import _fold

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=400),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=5),
    )
    def check(stream, k, n_parts):
        truth = Counter(str(x) for x in stream)
        n = len(stream)
        # per-partition folds (round-robin split), then the global merge
        partials = []
        for p in range(n_parts):
            chunk = [str(x) for x in stream[p::n_parts]]
            counters: dict[str, int] = {}
            # fold in two batches to exercise the per-batch merge path
            half = len(chunk) // 2
            for piece in (chunk[:half], chunk[half:]):
                if piece:
                    counters = _fold(counters, Counter(piece), k)
            partials.append(counters)
        merged: dict[str, int] = {}
        for c in partials:
            for key, v in c.items():
                merged[key] = merged.get(key, 0) + v
        if len(merged) > k:
            sub = sorted(merged.values(), reverse=True)[k]
            merged = {key: v - sub for key, v in merged.items() if v > sub}
        bound = n / (k + 1)
        assert len(merged) <= k
        for key, cnt in truth.items():
            if cnt > bound:
                assert key in merged, (key, cnt, bound, k, n_parts)
        for key, est in merged.items():
            assert est <= truth[key]
            assert est >= truth[key] - bound

    check()


def test_streaming_sketch_keeps_guarantees(spark, tmp_path):
    """Streaming MG partials (stateless per micro-batch) + read-time
    merge must keep both guarantees over the WHOLE stream — the
    mergeable-summaries property is exactly what licenses merging
    across micro-batch cuts."""
    from collections import Counter

    from polla_spark.operators.sketch import mg_merge

    rows = (
        [("hot",)] * 4000
        + [("warm",)] * 1500
        + [(f"tail{i % 797}",) for i in range(8000)]
    )
    d = tmp_path / "hh_stream"
    # three files -> three micro-batches; interleave so heavy keys
    # span every batch
    for i in range(3):
        spark.createDataFrame(rows[i::3], "key string").coalesce(
            2
        ).write.parquet(str(d / f"part{i}"))
    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )
    k = 16
    q = (
        mg_partials(stream, "key", k)
        .writeStream.format("memory")
        .queryName("hh_partials")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    partials = spark.table("hh_partials")
    # every micro-batch appended its own candidate rows (3 batches,
    # >= 1 surviving counter each; heavy folds shrink survivors, so
    # the count is small but must exceed one batch's worth)
    assert partials.count() >= 3
    assert partials.groupBy("key").count().filter("count > 1").count() > 0
    got = {
        r["key"]: r["est"]
        for r in mg_merge(partials, k).collect()
    }
    truth = Counter(key for (key,) in rows)
    n = len(rows)
    bound = n / (k + 1)
    assert len(got) <= k
    for key, cnt in truth.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)
    for key, est in got.items():
        assert est <= truth[key]
        assert est >= truth[key] - bound


def test_streaming_sketch_compaction_bounds_sink(spark, tmp_path):
    """The documented fix for unbounded partials-sink growth
    (round-4 verdict task #3): ``compact_heavy_hitters`` periodically
    replaces the sink with its own merged summary. Three
    ingest→compact cycles over a multi-batch stream must keep
    (a) the sink bounded at ≤ k rows after every compaction (vs
    T × partitions × k growth without it), and (b) the full-stream
    n/(k+1) no-false-negative + bounded-under-count guarantee intact
    — re-merging merged summaries is exactly what PODS'12
    mergeability licenses."""
    from collections import Counter

    from polla_spark.operators.sketch import (
        compact_heavy_hitters,
        heavy_hitter_foreach_batch,
        mg_merge,
        read_heavy_hitter_partials,
    )

    rows = (
        [("hot",)] * 4000
        + [("warm",)] * 1500
        + [(f"tail{i % 797}",) for i in range(8000)]
    )
    src = tmp_path / "hh_src"
    sink = str(tmp_path / "hh_sink")
    ckpt = str(tmp_path / "hh_ckpt")
    k = 16
    n_files = 6
    for cycle in range(3):
        # two new source files per cycle; interleaved slices so the
        # heavy keys span every micro-batch
        for i in (2 * cycle, 2 * cycle + 1):
            spark.createDataFrame(rows[i::n_files], "key string").coalesce(
                2
            ).write.parquet(str(src / f"part{i}"))
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        q = (
            stream.writeStream.foreachBatch(
                heavy_hitter_foreach_batch(sink, "key", k)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        pre = read_heavy_hitter_partials(spark, sink).count()
        compacted = compact_heavy_hitters(spark, sink, k)
        assert compacted <= k
        assert read_heavy_hitter_partials(spark, sink).count() == compacted
        # the first cycle's two batches already exceed one summary's
        # worth of candidates — compaction genuinely shrinks the sink
        if cycle == 0:
            assert pre > compacted
    got = {
        r["key"]: r["est"]
        for r in mg_merge(
            read_heavy_hitter_partials(spark, sink), k
        ).collect()
    }
    truth = Counter(key for (key,) in rows)
    n = len(rows)
    bound = n / (k + 1)
    assert len(got) <= k
    for key, cnt in truth.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)
    for key, est in got.items():
        assert est <= truth[key]
        assert est >= truth[key] - bound


def test_q177_aborts_on_corrupted_sketch(spark, monkeypatch):
    """The rows-only driver gate records only the row count, so q177
    must ABORT (in-plan assert_true) rather than merely flip a
    `verified` flag when the sketch breaks its bounds. Corrupt the
    sketch via monkeypatch (every estimate inflated past the true
    count) and require the collect to raise; the healthy path still
    returns all-verified rows."""
    import pytest
    from pyspark.sql import functions as F

    from polla_spark.operators import sketch as sk
    from polla_spark.plans.llmdata import q177_heavy_hitters_sketch

    sf = "/root/testdata/sf0.001"
    healthy = q177_heavy_hitters_sketch(spark, sf).collect()
    assert healthy and all(r["verified"] for r in healthy)

    real = sk.heavy_hitters_sketch

    def corrupt(df, key_col, k=64):
        return real(df, key_col, k).withColumn(
            "est", F.col("est") + F.lit(10_000_000)
        )

    monkeypatch.setattr(sk, "heavy_hitters_sketch", corrupt)
    with pytest.raises(Exception, match="guarantee violated|ASSERT"):
        q177_heavy_hitters_sketch(spark, sf).collect()


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the sink write
    and the checkpoint commit re-runs the same batch_id. The writer
    must absorb the replay (deterministic per-batch dir, overwrite,
    manifest-add-if-absent) — the r5 self-review found the previous
    plain-append design double-counted replayed partials, silently
    violating est <= true_count."""
    from polla_spark.operators.sketch import (
        heavy_hitter_foreach_batch,
        mg_merge,
        read_heavy_hitter_partials,
    )

    sink = str(tmp_path / "hh_replay_sink")
    k = 8
    writer = heavy_hitter_foreach_batch(sink, "key", k)
    batch = spark.createDataFrame([("a",)] * 30 + [("b",)] * 10, "key string")
    writer(batch, 0)
    once = {
        r["key"]: r["est"]
        for r in mg_merge(read_heavy_hitter_partials(spark, sink), k).collect()
    }
    writer(batch, 0)  # replay of the SAME batch_id
    twice = {
        r["key"]: r["est"]
        for r in mg_merge(read_heavy_hitter_partials(spark, sink), k).collect()
    }
    assert once == twice == {"a": 30, "b": 10}
    # a genuinely new batch still accumulates
    writer(batch, 1)
    again = {
        r["key"]: r["est"]
        for r in mg_merge(read_heavy_hitter_partials(spark, sink), k).collect()
    }
    assert again == {"a": 60, "b": 20}

    # the r5 second-pass hole: a replay arriving AFTER a compaction
    # folded its batch dir away must STILL be a no-op — the durable
    # `applied` set, not live-dir membership, is the idempotency
    # marker (the docstring sanctions running compaction from the
    # foreachBatch hook, so this interleaving is ordinary)
    from polla_spark.operators.sketch import compact_heavy_hitters

    compact_heavy_hitters(spark, sink, k)
    writer(batch, 1)  # replay of an already-compacted batch
    after = {
        r["key"]: r["est"]
        for r in mg_merge(read_heavy_hitter_partials(spark, sink), k).collect()
    }
    assert after == {"a": 60, "b": 20}


def test_compaction_publish_is_atomic_via_manifest(spark, tmp_path):
    """Crash-safety of the compaction swap: a half-written compaction
    directory that never reached the manifest is INVISIBLE to readers
    (the old state stays live), and after the manifest swap only the
    compacted dir is read even if orphan GC never ran — the
    delete-then-rename window of the previous design cannot lose the
    sketch."""
    import json
    import os

    from polla_spark.operators.sketch import (
        _MANIFEST,
        compact_heavy_hitters,
        heavy_hitter_foreach_batch,
        read_heavy_hitter_partials,
    )

    sink = str(tmp_path / "hh_atomic_sink")
    writer = heavy_hitter_foreach_batch(sink, "key", 8)
    writer(spark.createDataFrame([("a",)] * 5, "key string"), 0)

    # simulate a compaction that crashed AFTER writing its output dir
    # but BEFORE the manifest swap: readers must not see it
    spark.createDataFrame([("ghost", 999)], "key string, est long").write.parquet(
        os.path.join(sink, "compact_99")
    )
    live = {r["key"] for r in read_heavy_hitter_partials(spark, sink).collect()}
    assert live == {"a"}

    # a real compaction then publishes atomically; GC is DEFERRED one
    # window — the pre-existing orphan (crashed before its swap) is
    # swept now, but the just-superseded batch_0 stays on disk so an
    # in-flight reader of the old manifest can finish, and the NEXT
    # compaction sweeps it
    n = compact_heavy_hitters(spark, sink, 8)
    assert n == 1
    manifest = json.load(open(os.path.join(sink, _MANIFEST)))
    assert manifest["live"] == ["compact_100"]  # generation beyond the orphan
    assert manifest["applied"] == [0]
    assert not os.path.exists(os.path.join(sink, "compact_99"))
    assert os.path.exists(os.path.join(sink, "batch_0"))  # grace window
    got = {r["key"]: r["est"] for r in read_heavy_hitter_partials(spark, sink).collect()}
    assert got == {"a": 5}
    compact_heavy_hitters(spark, sink, 8)
    assert not os.path.exists(os.path.join(sink, "batch_0"))  # swept now

    # compaction on a sink that does not exist yet is an empty no-op
    assert compact_heavy_hitters(spark, str(tmp_path / "nope"), 8) == 0
