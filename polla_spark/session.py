"""SparkSession factory tuned for the target execution model.

Local testing runs on ``local[N]`` (single JVM), but every setting here
is chosen to also be the right default on a large multi-executor
cluster reading ~100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to cores locally; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` governs post-shuffle sizing, so the
  static number only sets the pre-AQE upper bound;
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across cluster nodes;
- Arrow enabled for every pandas interchange (pandas_udf, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "polla_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and rebuild micros (see read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet TIMESTAMP(isAdjustedToUTC=false) scans as LTZ, not
        # NTZ: plans treat ts as a UTC instant, and a scan-level type
        # (vs read_table's cast fallback) keeps ts predicates pushable.
        # Caveat: this only governs files WITHOUT Spark-written schema
        # metadata (the external testdata); Spark-written NTZ files
        # still scan as timestamp_ntz and hit read_table's fallback.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local[k] runs everything in the driver JVM, so this IS the
        # executor heap: 8g thrashes the GC on 20x-replicated scale-up
        # runs (32 threads x wide text arrays); the box has 128 GiB
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # managed (bucketed) tables go to a scratch warehouse, never cwd
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/polla_spark_warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split sizing, made EXPLICIT: 128 MB splits keep one
        # input partition comfortably inside an executor core's
        # working memory even for the widest text rows here (~2 KB/row
        # -> ~64k rows/split), and at 100 TB yield ~800k splits — fine
        # for a 1000-executor scheduler. Post-shuffle sizing is AQE's
        # job (64 MB advisory target), so these two lines are the
        # whole partition-size policy, input side and shuffle side.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[dict], schema):
    """Driver-side rows (dicts keyed by field name) -> DataFrame.

    ``spark.createDataFrame(list_of_dicts, schema)`` ships the rows
    through ``parallelize``: the frame is a ``LogicalRDD`` and every
    scan of it starts Python-worker tasks. A ``pyarrow.Table`` under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a JVM
    ``LocalRelation`` instead, which scans with no Python worker.

    Timestamps keep the row path's semantics: a naive ``datetime`` is
    process-local wall-clock time (``TimestampType.toInternal``, i.e.
    ``time.mktime``), where Arrow alone would read it as UTC. Only
    top-level timestamp fields get that conversion, so nested ones are
    refused rather than silently shifted.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType

    arrow_schema = to_arrow_schema(schema)
    columns = []
    for field, arrow_field in zip(schema.fields, arrow_schema):
        values = [row.get(field.name) for row in rows]
        if isinstance(field.dataType, TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        elif "timestamp" in field.dataType.simpleString():
            raise NotImplementedError(f"nested timestamp in field {field.name!r}")
        if not field.nullable and any(v is None for v in values):
            raise ValueError(f"field {field.name!r} is not nullable but got None")
        columns.append(pa.array(values, arrow_field.type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet, normalizing timestamp physical types.

    The driver's generator has shipped ``events.ts`` as INT64
    TIMESTAMP(NANOS) (scans as BIGINT nanoseconds under
    ``nanosAsLong`` — rebuild micros with integer division; a double
    round-trip would lose precision above 2^53 ns) and as
    TIMESTAMP(MICROS) with ``isAdjustedToUTC=false`` (scans as
    TIMESTAMP_NTZ in Spark 4). Every plan here treats ``ts`` as a UTC
    instant (session tz is pinned UTC), and NTZ supports neither
    ``cast(long)`` nor ``unix_micros`` — so normalize any NTZ column
    to TIMESTAMP at the scan edge. Wall-clock values are unchanged
    and both forms hash identically against the DuckDB oracle.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    if name == "events" and dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dt in dtypes.items():
        if dt == "timestamp_ntz":
            # cast renders the NTZ wall-clock as an instant in the
            # *session* tz; from_utc_timestamp(…, current_timezone())
            # then shifts it so the stored instant equals the wall-clock
            # read as UTC — regardless of the caller session's tz.
            # (to_utc_timestamp(…, 'UTC') was an identity no-op here,
            # leaving non-UTC sessions with a wall-in-session-tz
            # instant — the one scenario this fallback exists for.)
            df = df.withColumn(
                col,
                F.from_utc_timestamp(
                    F.col(col).cast("timestamp"), F.current_timezone()
                ),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet as a temp view; return name->DataFrame.

    Columnar parquet scans + explicit column selection downstream let
    Catalyst prune columns and push predicates into the scan.
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
