"""Streaming forms, each checked against its batch counterpart on
finite input: the paper's pipeline as a ``foreachBatch``
(streaming/pipeline.py) — each micro-batch runs the same consensus
kernel as the batch path and gates publication on the state the
previous micro-batches wrote — the stateful incremental-LSH kernels
(streaming/stateful.py), and the stateless per-asset operators, which
run unchanged on a stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE as SF_DIR


def _rows(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def _doc_stream(spark, tmp_path, name, cols):
    """Stage documents as a 3-file stream split on doc_id % 3
    (batches 1, 2, then 0 — the q227 'delta' split last)."""
    from polla_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents").select(*cols)
    d = tmp_path / name
    for part, i in enumerate([1, 2, 0]):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(d / f"part{part}")
        )
    return docs, (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )


def test_streaming_pipeline_decision_equals_batch(spark, tmp_path):
    """foreachBatch consensus pipeline == direct batch invocation."""
    import datetime as dt

    from polla_spark.operators import consensus as C
    from polla_spark.schemas import SOURCE_PAYLOAD, STATE_ROW
    from polla_spark.streaming.pipeline import make_decision_batch_fn, run_payload_stream

    rows = []
    for run_i in range(3):
        for prio, (name, val) in enumerate([("s1", 100 + run_i), ("s2", 100 + run_i + (run_i % 2))]):
            rows.append(
                {
                    "run_id": f"r{run_i}",
                    "source_name": name,
                    "source_priority": prio,
                    "fuente": f"https://x/{name}",
                    "fetched_at": dt.datetime(2026, 4, 26, 12, 0, 0),
                    "sha256": f"sha_{name}_r{run_i}",
                    "estimado": True,
                    "user_agent": "ua",
                    "sorteo": 5000 + run_i,
                    "fecha": dt.date(2026, 4, 28),
                    "montos": {"Loto Clásico": val},
                }
            )
    payloads = spark.createDataFrame(rows, SOURCE_PAYLOAD)
    pdir = str(tmp_path / "payloads")
    payloads.write.parquet(pdir)

    empty_state = spark.createDataFrame([], STATE_ROW)
    collected: list = []

    def sink(df, epoch):
        collected.extend(
            (r["run_id"], r["status"], r["confidence"]) for r in df.collect()
        )

    stream = spark.readStream.schema(payloads.schema).parquet(pdir)
    run_payload_stream(
        stream,
        make_decision_batch_fn(lambda: empty_state, sink, expected_sources=2),
    )

    batch = C.decide(
        C.with_unchanged(C.normalized_records(payloads, 2), empty_state)
    )
    expected = sorted(
        (r["run_id"], r["status"], r["confidence"]) for r in batch.collect()
    )
    assert sorted(collected) == expected


def test_publish_gate_across_microbatches(spark, tmp_path):
    """Multi-microbatch decision gate e2e: batch 1 publishes and writes
    state; batch 2 repeats the same sorteo/fecha/amounts and must SKIP
    (delta vs the state batch 1 wrote); batch 3 changes amounts and
    publishes again. Only gated rows reach the publisher."""
    import datetime as dt

    from polla_spark.schemas import SOURCE_PAYLOAD, STATE_ROW
    from polla_spark.streaming.pipeline import (
        make_decision_batch_fn,
        make_publish_gate_sink,
        run_payload_stream,
    )

    def run_rows(run_id, montos):
        return [
            {
                "run_id": run_id,
                "source_name": name,
                "source_priority": prio,
                "fuente": f"https://x/{name}",
                "fetched_at": dt.datetime(2026, 5, 1, 12, 0, 0),
                "sha256": f"sha_{name}_{run_id}",
                "estimado": True,
                "user_agent": "ua",
                "sorteo": 6000,
                "fecha": dt.date(2026, 5, 3),
                "montos": montos,
            }
            for prio, name in enumerate(["s1", "s2"])
        ]

    amounts = {"Loto Clásico": 100, "Recargado": 200}
    changed = {"Loto Clásico": 150, "Recargado": 200}
    pdir = tmp_path / "payload_stream"
    for i, rows in enumerate(
        (run_rows("r1", amounts), run_rows("r2", amounts), run_rows("r3", changed))
    ):
        spark.createDataFrame(rows, SOURCE_PAYLOAD).coalesce(1).write.parquet(
            str(pdir / f"b{i}")
        )

    state_rows: list[dict] = []
    published: list[tuple] = []
    quarantined: list[tuple] = []
    sink = make_publish_gate_sink(
        lambda rows: published.extend((r["run_id"], r["status"]) for r in rows),
        quarantiner=lambda rows: quarantined.extend(r["run_id"] for r in rows),
        state_rows=state_rows,
    )

    def state_provider():
        return spark.createDataFrame(state_rows, STATE_ROW)

    stream = (
        spark.readStream.schema(SOURCE_PAYLOAD)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{pdir}/*/")
    )
    run_payload_stream(
        stream, make_decision_batch_fn(state_provider, sink, expected_sources=2)
    )

    assert published == [("r1", "publish"), ("r3", "publish")]
    assert quarantined == []
    assert len(state_rows) == 2  # r1 and r3 advanced the state; r2 skipped


def test_kmv_finisher_aborts_on_reserved_scope(spark):
    """q191's finisher guards its reserved union label
    (functions/kmv.kmv_guard_reserved): a REAL scope literally named
    'ALL' must abort loudly, not silently fold into the union sketch."""
    from polla_spark.functions.kmv import kmv_estimate, kmv_guard_reserved, kmv_union

    per = spark.createDataFrame(
        [("ALL", 1), ("ALL", 2), ("es", 4)], "scope string, h long"
    )
    with pytest.raises(Exception, match="reserved scope label"):
        kmv_estimate(kmv_guard_reserved(per).unionByName(kmv_union(per))).collect()
    # a frame without the label passes through unchanged
    ok = per.filter("scope != 'ALL'")
    assert [r["h"] for r in kmv_guard_reserved(ok).collect()] == [4]


def test_audio_segments_stream_equals_q195(spark, tmp_path):
    """q195's audio segmentation runs unchanged on a stream: the
    kernel is stateless per asset, so streaming whole documents in 3
    micro-batches must yield exactly the batch segment set — ids,
    indexes, times and segment BYTES identical."""
    from polla_spark.operators.multimodal import documents_as_assets, segment_audio
    from polla_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents")
    rows = docs.collect()
    d = tmp_path / "audio_stream"
    for i in range(3):
        spark.createDataFrame(rows[i::3], docs.schema).coalesce(1).write.parquet(
            str(d / f"part{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )
    q = (
        segment_audio(documents_as_assets(stream))
        .withColumn("shash", F.md5("segment"))
        .drop("segment")
        .writeStream.format("memory")
        .queryName("audio_segs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("audio_segs")
    want = (
        segment_audio(documents_as_assets(docs))
        .withColumn("shash", F.md5("segment"))
        .drop("segment")
    )
    keys = ["asset_id", "seg_idx", "t0_ms", "t1_ms", "shash"]
    assert _rows(got, keys) == _rows(want, keys)


def test_ahash_band_stream_equals_batch(spark, tmp_path):
    """q205's perceptual-hash bands run unchanged on a stream: the
    aHash kernel is stateless per asset, so the streamed band table
    over a 3-batch document stream equals the batch table band for
    band."""
    from polla_spark.operators.multimodal import ahash_bands, documents_as_assets
    from polla_spark.session import read_table

    docs = read_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    rows = docs.collect()
    d = tmp_path / "ahash_stream"
    for i in range(3):
        spark.createDataFrame(rows[i::3], docs.schema).coalesce(1).write.parquet(
            str(d / f"part{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )
    q = (
        ahash_bands(documents_as_assets(stream))
        .writeStream.format("memory")
        .queryName("t_ahash_bands")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = spark.table("t_ahash_bands")
    want = ahash_bands(documents_as_assets(docs))
    keys = ["asset_id", "b0", "b1", "b2", "b3"]
    assert _rows(streamed, keys) == _rows(want, keys)


def test_stateful_lsh_stream_equals_q227(spark, tmp_path):
    """Stateful incremental LSH (42nd twin) over a 3-batch split: the
    keyed band-bucket state carries history across micro-batches, the
    kernel emits every candidate pair exactly once (when its later
    member arrives), and

    1. the pairs involving a DELTA doc (% 3 == 0 — the last batch)
       equal batch q227 row for row, and
    2. the FULL emitted union equals the complete band-join candidate
       set (q53's pair set over the same docs) — nothing lost,
       nothing invented, history x history included exactly once."""
    from polla_spark.plans.llmdata import (
        q53_lsh_candidate_pairs,
        q227_incremental_lsh_pairs,
    )
    from polla_spark.streaming.stateful import (
        finish_lsh_pairs,
        lsh_pairs_stateful,
    )

    _, stream = _doc_stream(
        spark, tmp_path, "lsh_stream", ["doc_id", "text"]
    )
    q = (
        lsh_pairs_stateful(stream)
        .writeStream.format("memory")
        .queryName("t42_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = finish_lsh_pairs(spark.table("t42_pairs"))

    keys = ["id_a", "id_b", "both_new"]
    delta_involving = emitted.filter(
        (F.pmod("id_a", F.lit(3)) == 0) | (F.pmod("id_b", F.lit(3)) == 0)
    )
    want = q227_incremental_lsh_pairs(spark, SF_DIR)
    assert _rows(delta_involving, keys) == _rows(want, keys)
    spark.catalog.clearCache()  # q227's plan-lifetime signature cache

    full = q53_lsh_candidate_pairs(spark, SF_DIR)
    assert _rows(emitted, ["id_a", "id_b"]) == _rows(full, ["id_a", "id_b"])
    spark.catalog.clearCache()


def test_incremental_components_stream_equals_q67(spark, tmp_path):
    """Streamed incremental clustering (48th twin) over the twin-#42
    pair stream: a foreachBatch sink folds each micro-batch's emitted
    candidate pairs into the standing label table via
    fold_component_labels (merge_components — label-space contraction
    + broadcast remap, history never re-enumerated); after the
    3-batch split the finished labeling equals batch q67's
    from-scratch clustering row for row — incremental == full,
    streamed (the q237 contract as a live fold)."""
    from polla_spark.plans.llmdata import q67_dedup_components
    from polla_spark.streaming.stateful import (
        finish_component_labels,
        fold_component_labels,
        lsh_pairs_stateful,
    )

    docs, stream = _doc_stream(spark, tmp_path, "cc_stream", ["doc_id", "text"])
    state = {"labels": spark.createDataFrame([], "node long, label long")}

    def fold(batch_df, _epoch):
        # localCheckpoint: materialize the fold so the next batch's
        # merge doesn't replay every prior batch's lineage
        state["labels"] = fold_component_labels(
            state["labels"], batch_df
        ).localCheckpoint()

    q = (
        lsh_pairs_stateful(stream)
        .writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = finish_component_labels(state["labels"], docs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    keys = ["doc_id", "component"]
    assert _rows(got, keys) == _rows(q67_dedup_components(spark, SF_DIR), keys)
    spark.catalog.clearCache()

    # twin #51 rides the same standing labels: the live cluster-size
    # histogram == batch q236 through the shared cluster_size_report
    from polla_spark.plans.llmdata import q236_cluster_size_histogram
    from polla_spark.streaming.stateful import finish_cluster_histogram

    hist = finish_cluster_histogram(state["labels"], docs)
    hkeys = ["cluster_size", "n_clusters", "n_docs"]
    assert _rows(hist, hkeys) == _rows(
        q236_cluster_size_histogram(spark, SF_DIR), hkeys
    )
    spark.catalog.clearCache()
