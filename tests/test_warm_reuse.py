"""A warm query redoes no driver work whose inputs did not change.

Two costs used to repeat on every warm pass of the benchmark's query
workload: Janino recompiled generated classes that Spark's 100-entry
codegen cache had evicted, and ``read_table`` started one
schema-inference job per read. ``get_spark`` now sizes the codegen
cache at 1024 entries, and ``read_table`` memoises each inferred
schema under a key of real path, file stamp and inference confs.

The compile budget is checked cleanly only in a fresh JVM (CI runs
this file on its own); in the full suite the counter and the cache are
shared with every earlier test, which can only make the second pass
find more classes cached.
"""

from __future__ import annotations

import datetime
import os
from pathlib import Path

from polla_spark.session import read_table

DATA = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01")
#: the benchmark's query workload (perfbench/run.py DEDUP + ANALYTICS)
BENCH_QUERIES = [
    "q53_lsh_candidate_pairs", "q67_dedup_components", "q190_containment_join",
    "q01_pricing_summary", "q72_sessionize", "q44_consensus_decision",
]
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _compiles(spark) -> int:
    metrics = getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs(spark, group: str, fn):
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_codegen_cache_holds_a_query_pass(spark):
    """A second pass of the six bench queries compiles (almost) nothing:
    one pass generates ~134 classes, more than Spark's default cache of
    100 holds, which made a warm pass recompile 105 of them."""
    from polla_spark.plans import registry

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    reg = registry()

    def one_pass():
        for name in BENCH_QUERIES:
            spark.catalog.clearCache()
            reg[name].spark(spark, DATA).write.format("noop").mode("overwrite").save()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= 10


def test_second_read_starts_no_job(spark, tmp_path):
    os.link(os.path.join(DATA, "lineitem.parquet"), tmp_path / "lineitem.parquet")
    read = lambda: read_table(spark, str(tmp_path), "lineitem")  # noqa: E731
    first, miss_jobs = _jobs(spark, "warm-reuse-miss", read)
    second, hit_jobs = _jobs(spark, "warm-reuse-hit", read)
    assert miss_jobs, "schema inference should start a job"
    assert hit_jobs == []
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_overwritten_directory_reads_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert read_table(spark, str(tmp_path), "t").dtypes == [("id", "bigint")]
    (spark.range(3).selectExpr("CAST(id AS STRING) AS s", "id * 2 AS v")
     .write.mode("overwrite").parquet(path))
    df = read_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("s", "string"), ("v", "bigint")]
    assert sorted(tuple(r) for r in df.collect()) == [("0", 0), ("1", 2), ("2", 4)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    os.link(os.path.join(DATA, "documents.parquet"), tmp_path / "documents.parquet")
    read = lambda: read_table(spark, str(tmp_path), "documents")  # noqa: E731
    read()
    assert _jobs(spark, "warm-reuse-conf-hit", read)[1] == []
    old = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "false" if old == "true" else "true")
    try:
        assert _jobs(spark, "warm-reuse-conf-flipped", read)[1], "a changed conf must infer again"
    finally:
        spark.conf.set(NANOS, old)
    assert _jobs(spark, "warm-reuse-conf-back", read)[1] == []


WALL = [datetime.datetime(2024, 3, 1, 12, 30, 15, 123456),
        datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 3, 23, 59, 59, 500000)]


def _assert_normalized(df) -> None:
    """``ts`` is a TIMESTAMP whose UTC rendering is the stored wall clock."""
    from pyspark.sql import functions as F

    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.orderBy("event_id").select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"))
    assert [r.s for r in got.collect()] == [w.strftime("%Y-%m-%d %H:%M:%S.%f") for w in WALL]


def test_events_ts_nanos_form_normalizes_on_every_read(spark, tmp_path):
    """INT64 TIMESTAMP(NANOS) scans as BIGINT under ``nanosAsLong``;
    the micros rebuild still runs when the schema comes from the memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array(WALL, pa.timestamp("us")).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [0, 1, 2], "ts": ts}),
                   tmp_path / "events.parquet", version="2.6")
    assert "timeUnit=nanoseconds" in str(pq.read_metadata(tmp_path / "events.parquet").schema)
    for _ in range(2):
        _assert_normalized(read_table(spark, str(tmp_path), "events"))


def test_events_ts_ntz_form_normalizes_on_every_read(spark, tmp_path):
    """A Spark-written TIMESTAMP_NTZ column hits read_table's cast
    fallback on a memo hit too; the wall-clock values are unchanged."""
    from pyspark.sql import functions as F

    (spark.createDataFrame([(i, str(w)) for i, w in enumerate(WALL)], "event_id int, w string")
     .select("event_id", F.to_timestamp_ntz("w").alias("ts"))
     .write.parquet(str(tmp_path / "events.parquet")))
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    for _ in range(2):
        _assert_normalized(read_table(spark, str(tmp_path), "events"))
