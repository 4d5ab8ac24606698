"""Mergeable frequency sketches: distributed Misra-Gries heavy hitters.

The exact heavy-hitter query (q175) is one groupBy — fine whenever the
KEY CARDINALITY fits a shuffle. At 100 TB with adversarial cardinality
(URLs, user agents, raw tokens) the exact census itself is the
bottleneck: the shuffle carries one row per DISTINCT key. The sketch
path bounds that: each partition keeps at most ``k`` counters
(Misra-Gries), and MG summaries are MERGEABLE with additive error
(Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries",
PODS 2012): summing counters keyed and subtracting the (k+1)-th
largest combined weight preserves the invariant

    true_count(x) - n/(k+1)  <=  est(x)  <=  true_count(x)

so any key with true frequency > n/(k+1) is GUARANTEED to survive
(no false negatives at the support threshold), and every estimate is
an under-count by at most n/(k+1). ``tests/test_sketch.py`` pins both
properties against the exact census.

Scale shape: the only data-sized stage is the per-partition pass
(Arrow-batched ``mapInPandas``; each batch folds in via vectorized
``value_counts`` — the batch's exact counts are themselves a zero-error
summary, so per-batch folding IS the paper's merge). What shuffles is
``num_partitions × k`` candidate rows — independent of both corpus
size and key cardinality. The final subtraction needs only the
(k+1)-th largest merged weight, read from the bounded candidate table
(the ``limit(k+1).collect()`` is k+1 rows by construction — same
bounded-collect discipline as operators/graph.py).

Reference parity: the reference engine has no sketch module; this is
part of the LLM-data-pipeline extension surface (SURVEY.md north-star
list), built on the public Misra-Gries / mergeable-summaries
literature.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MG_SCHEMA = "key string, est long"


def _fold(counters: dict[str, int], batch_counts, k: int) -> dict[str, int]:
    """Merge exact batch counts into an MG summary (PODS'12 merge:
    combine keyed, then subtract the (k+1)-th largest if over k)."""
    for key, cnt in batch_counts.items():
        counters[key] = counters.get(key, 0) + int(cnt)
    if len(counters) > k:
        sub = sorted(counters.values(), reverse=True)[k]
        counters = {key: v - sub for key, v in counters.items() if v > sub}
    return counters


def mg_partials(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries: at most ``k`` (key, est)
    rows per input partition, each ``est`` an under-count by at most
    (partition rows)/(k+1)."""

    def summarize(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            counters = _fold(
                counters, pdf[key_col].astype(str).value_counts(), k
            )
        yield pd.DataFrame(
            {"key": list(counters.keys()), "est": list(counters.values())}
        )

    # null keys are EXCLUDED from the sketch (pandas astype(str) would
    # otherwise fold them into the literal string "None", colliding
    # with genuine "None" values and diverging from an exact census's
    # separate null group) — fillna upstream if nulls are meaningful
    return (
        df.select(F.col(key_col).cast("string").alias(key_col))
        .filter(F.col(key_col).isNotNull())
        .mapInPandas(summarize, MG_SCHEMA)
    )


def mg_merge(partials: DataFrame, k: int = 64) -> DataFrame:
    """Merge per-partition MG summaries into one global summary of at
    most ``k`` keys: sum by key, subtract the (k+1)-th largest merged
    weight, keep positive survivors. Runs on the candidate table
    (≤ partitions × k rows), never the data.

    The candidate table is bounded by construction, so the finisher
    collects it ONCE and completes driver-side — no persisted relation
    to leak across repeated compaction cycles in a long-lived session
    (the data-sized upstream pass still executes exactly once).

    NOTE: this makes the function EAGER — calling it executes the
    upstream pass immediately, and the input must be a BATCH frame
    (a streaming frame cannot be collected; stream ``mg_partials``
    through :func:`heavy_hitter_foreach_batch` and merge at read time
    instead)."""
    spark = partials.sparkSession
    rows = partials.groupBy("key").agg(F.sum("est").alias("est")).collect()
    rows.sort(key=lambda r: (-r["est"], r["key"]))
    sub = int(rows[k]["est"]) if len(rows) > k else 0
    out = [
        (r["key"], int(r["est"]) - sub)
        for r in rows
        if int(r["est"]) - sub > 0
    ]
    return spark.createDataFrame(out, MG_SCHEMA).orderBy(
        F.desc("est"), "key"
    )


_MANIFEST = "MANIFEST.json"


def _read_manifest(sink_path: str) -> dict:
    """Manifest state: ``live`` = directory names (relative to the
    sink) currently visible to readers; ``applied`` = every batch id
    whose counts are ALREADY represented in the live set (either as
    its own ``batch_<id>`` dir or folded into a ``compact_<g>`` dir).
    ``applied`` is the durable idempotency marker — membership in
    ``live`` alone is NOT one, because compaction drops batch dirs
    from ``live`` while their counts live on inside the compacted
    summary (r5 second-pass review). Missing manifest == empty sink."""
    import json
    import os

    try:
        with open(os.path.join(sink_path, _MANIFEST)) as fh:
            raw = json.load(fh)
    except (OSError, ValueError):
        return {"live": [], "applied": []}
    if isinstance(raw, list):  # pre-applied-tracking format
        return {
            "live": list(raw),
            "applied": [
                int(d.split("_")[1])
                for d in raw
                if d.startswith("batch_") and d.split("_")[1].isdigit()
            ],
        }
    return {"live": list(raw.get("live", [])),
            "applied": list(raw.get("applied", []))}


def _write_manifest(sink_path: str, live: list[str],
                    applied: list[int]) -> None:
    """Atomically replace the manifest (write-temp + ``os.replace`` —
    a single-file rename, atomic on POSIX). Readers therefore resolve
    either the old dir set or the new one, never a mix: this tiny
    transaction log is the same visibility mechanism Delta/Iceberg
    productize, and it is what makes compaction crash-safe on a
    plain filesystem."""
    import json
    import os

    os.makedirs(sink_path, exist_ok=True)
    tmp = os.path.join(sink_path, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"live": sorted(live), "applied": sorted(applied)}, fh)
    os.replace(tmp, os.path.join(sink_path, _MANIFEST))


def read_heavy_hitter_partials(spark, sink_path: str) -> DataFrame:
    """All LIVE partials in the sink (manifest-visible dirs only —
    a crashed half-written compaction or a not-yet-committed batch
    directory is invisible). Empty sink -> empty frame."""
    import os

    dirs = [
        os.path.join(sink_path, d) for d in _read_manifest(sink_path)["live"]
    ]
    if not dirs:
        return spark.createDataFrame([], MG_SCHEMA)
    return spark.read.parquet(*dirs)


def heavy_hitter_foreach_batch(sink_path: str, key_col: str, k: int = 64):
    """``foreachBatch`` writer for the streaming heavy-hitter sketch:
    each micro-batch's MG partials (≤ partitions × k rows per trigger)
    land in their OWN ``batch_<id>`` directory, written with
    ``mode("overwrite")`` and then registered in the manifest.

    Why this shape (r5 self-review findings, both passes):

    - ``foreachBatch`` is at-least-once — on restart Spark re-runs the
      last uncommitted ``batch_id``. The manifest's ``applied`` batch
      set is the durable idempotency marker: a replayed id is skipped
      OUTRIGHT, even when a compaction has already folded its batch
      dir into a ``compact_<g>`` summary (membership in ``live`` alone
      would wrongly re-admit it and double-count);
    - the manifest gives compaction an atomic publish point (see
      :func:`compact_heavy_hitters`).

    Not ``writeStream.format("parquet")`` — the streaming sink's
    ``_spark_metadata`` log would treat compaction rewrites as
    corruption. Assumes the single-writer discipline of foreachBatch.
    """
    import os

    def write(batch_df: DataFrame, batch_id: int) -> None:
        m = _read_manifest(sink_path)
        if int(batch_id) in set(m["applied"]):
            return  # replay of an already-applied batch: no-op
        name = f"batch_{batch_id}"
        mg_partials(batch_df, key_col, k).write.mode("overwrite").parquet(
            os.path.join(sink_path, name)
        )
        m = _read_manifest(sink_path)  # re-read: cheap, single writer
        if int(batch_id) not in set(m["applied"]):
            _write_manifest(
                sink_path,
                [*m["live"], name],
                [*m["applied"], int(batch_id)],
            )

    return write


def compact_heavy_hitters(spark, sink_path: str, k: int = 64) -> int:
    """Maintenance job: replace the live partials (T triggers ×
    partitions × k rows) with their own merged summary (≤ k rows).
    Re-merging merged summaries is exactly what PODS'12 mergeability
    licenses, so the n/(k+1) guarantee survives ANY number of
    compaction cycles — this bounds the sink growth of
    :func:`heavy_hitter_foreach_batch` (at most partitions × k
    candidate rows per trigger).

    Crash-safety (r5 self-review, both passes): the merged summary is
    written to a NEW directory first, then the manifest is atomically
    replaced to point at it. A crash at any step leaves a readable
    sink: before the swap readers still resolve the old dirs; after
    it, only the compacted dir. GC is DEFERRED one compaction: this
    call deletes only directories that were ALREADY orphaned before it
    began — the dirs it supersedes stay on disk as a grace window, so
    a reader that resolved the pre-swap manifest (or holds a lazy
    frame over the old dirs) can still finish its scan; the NEXT
    compaction sweeps them. (Delta/Iceberg retain tombstoned files for
    exactly this reason.) Run between triggers or every N batches from
    the foreachBatch hook — single maintenance writer, same discipline
    as the stream itself; a not-yet-created sink is an empty no-op.
    Returns the compacted row count."""
    import os
    import shutil

    if not os.path.isdir(sink_path):
        return 0  # stream has not produced a batch yet
    m = _read_manifest(sink_path)
    rows = mg_merge(read_heavy_hitter_partials(spark, sink_path), k).collect()
    # generation scans the DISK, not the manifest, so an orphaned
    # half-compaction can never collide with the next one's name
    gen = 1 + max(
        (
            int(d.split("_")[1])
            for d in os.listdir(sink_path)
            if d.startswith("compact_") and d.split("_")[1].isdigit()
        ),
        default=0,
    )
    name = f"compact_{gen}"
    spark.createDataFrame(
        [(r["key"], r["est"]) for r in rows], MG_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sink_path, name)
    )
    # atomic publish point; applied batch ids carry forward — their
    # counts now live inside the compacted summary
    _write_manifest(sink_path, [name], m["applied"])
    # deferred GC: sweep only dirs orphaned BEFORE this compaction
    # (not in the pre-swap live set) — the just-superseded dirs stay
    # one grace window for in-flight readers
    grace = set(m["live"]) | {name, _MANIFEST}
    for d in os.listdir(sink_path):
        if d not in grace and not d.endswith(".tmp"):
            shutil.rmtree(os.path.join(sink_path, d), ignore_errors=True)
    return len(rows)


def heavy_hitters_sketch(
    df: DataFrame, key_col: str, k: int = 64
) -> DataFrame:
    """End-to-end sketch path: per-partition MG + mergeable combine.
    Guarantees vs the exact census (n = total rows):

    - every key with true count > n/(k+1) appears;
    - every estimate satisfies true - n/(k+1) <= est <= true.
    """
    return mg_merge(mg_partials(df, key_col, k), k)
