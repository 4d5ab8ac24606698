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

A fresh process launches its driver JVM from a per-machine AppCDS
archive (Application Class-Data Sharing: class metadata the JVM maps
at launch instead of parsing Spark's jars again) when one exists for
this JVM and jar set; that halves JVM launch plus session set-up. The
archive is built once, at the exit of the first process that finds
none, by separate processes after all of that process's own work.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

#: seconds the building process waits, at exit, for its JVM to stop,
#: and for the recording process (~15 s) and the archive dump (~50 s,
#: ~200 MB on 4 vCPU) to finish
JVM_STOP_TIMEOUT_S = 60
BUILD_TIMEOUT_S = 400
#: a successful build deletes other keys' archives unused this long
STALE_ARCHIVE_S = 7 * 24 * 3600


def get_spark(
    app_name: str = "polla_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults.

    When this call launches the driver JVM, it picks one of three
    launch modes (a session rebuilt in a running JVM changes nothing):

    - **use**: an archive exists for this JVM and jar set (see
      ``cds_key``); ``-XX:SharedArchiveFile`` maps it.
    - **record**: there is none, no build for this key has failed, and
      this process takes the build lock. The JVM launches plain. At
      interpreter exit, after all of the process's own work, the JVM is
      stopped and a separate short-lived process records a JVM's loaded
      classes over a small job, then ``java -Xshare:dump`` builds the
      archive (~65 s, once per machine and key). A failed build leaves
      ``<key>.failed``, which keeps later processes plain.
    - **plain**: another live process holds the lock, a build failed,
      Spark's conf dir holds a real file (CDS refuses a non-empty
      directory on the classpath), or the cache dir cannot be written.

    The archive and the empty conf dir that stands in for a
    templates-only ``SPARK_CONF_DIR`` live under
    ``${XDG_CACHE_HOME:-~/.cache}/polla_spark/cds/``; deleting that
    directory is safe. A missing, stale or corrupt archive leaves the
    JVM on a plain launch (``-Xshare:auto``) with the same results.
    """
    from pyspark import SparkContext

    n = cpus or DEFAULT_CPUS
    conf = dict(extra_conf or {})
    launch = _plan_launch() if SparkContext._gateway is None else None
    if launch is not None:
        option, conf_dir = launch
        user_opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{user_opts} {option}".strip()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # static, read when the JVM's code generator first runs: one
        # `queries` pass (perfbench) generates ~130 classes, and at
        # Spark's default of 100 every warm pass recompiled ~100 of
        # them in Janino (~13 ms each); at 1024 the first warm pass
        # compiles 4 and later ones none
        .config("spark.sql.codegen.cache.maxEntries", "1024")
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
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch is None:
        spark = builder.getOrCreate()
    else:
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(conf_dir)
        try:
            spark = builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    spark.sparkContext.setLogLevel("WARN")
    return spark


# -- the class archive ---------------------------------------------------------

#: this process's archive build, once it has taken a build lock; a
#: process builds at most once
_archive_build: "_ArchiveBuild | None" = None


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "polla_spark" / "cds"


def _java_binary() -> str | None:
    """The ``java`` that ``spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def cds_key(java: str, spark_home: str) -> str:
    """Hash of what a class archive is valid for: the JVM build (real
    path, size and mtime of ``java`` and ``libjvm.so``), Spark's jar set
    (name, size and mtime of each file in ``jars/``) and the pyspark
    version."""
    import pyspark

    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    h = hashlib.sha256(pyspark.__version__.encode())
    for path in (java, libjvm):
        st = os.stat(path)
        h.update(f"{os.path.realpath(path)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _plan_launch() -> tuple[str, Path] | None:
    """``(java option, empty conf dir)`` when the JVM this process is
    about to launch can map the archive, else None for a plain launch.
    With no archive and no failed build for this key, the process that
    takes the build lock registers the exit hook that builds one."""
    from pyspark.find_spark_home import _find_spark_home

    global _archive_build
    try:
        spark_home = _find_spark_home()
        java = _java_binary()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if java is None or not _templates_only(conf_dir):
            return None
        root = _cache_dir()
        (root / "conf").mkdir(parents=True, exist_ok=True)
        key = cds_key(java, spark_home)
        archive = root / f"{key}.jsa"
        if archive.exists():
            # the mtime marks the archive in use: a build for another
            # key prunes only archives unused for STALE_ARCHIVE_S
            with contextlib.suppress(OSError):
                os.utime(archive)
            return f"-XX:SharedArchiveFile={archive}", root / "conf"
        if (_archive_build is not None or (root / f"{key}.failed").exists()
                or not _take_lock(root / f"{key}.lock")):
            return None
    except OSError:
        return None
    _archive_build = _ArchiveBuild(root, key)
    atexit.register(_archive_build.finish)
    return None


def _templates_only(conf_dir: str) -> bool:
    """True when Spark's conf dir is absent or holds only ``*.template``
    files, so an empty dir can stand in for it and lose nothing."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(name.endswith(".template") for name in names)


def _take_lock(lock: Path) -> bool:
    """Create ``<key>.lock`` holding this pid. A lock whose pid is dead,
    or is this process's own (left by a killed run that had the same
    pid), is taken over, and that pid's leftovers removed."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            text = lock.read_text().strip()
            if not text.isdigit() or (int(text) != os.getpid() and _alive(int(text))):
                return False
            for stale in lock.parent.glob(f"{lock.stem}.{text}.*"):
                stale.unlink(missing_ok=True)
            lock.unlink(missing_ok=True)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _stop_jvm() -> None:
    """Stop the context (its accumulator server first sees the JVM go
    otherwise, and prints an EOFError), shut the gateway, close the
    JVM's stdin (it exits on EOF) and wait for it, bounded; a JVM that
    will not stop is killed. Does nothing when no JVM runs."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=JVM_STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class _ArchiveBuild:
    """The one process per archive key that has the archive built at its
    interpreter exit. Its own JVM launches plain; the class list comes
    from a separate, short-lived recording process (``_record_classes``),
    so nothing the served process times pays for the build."""

    def __init__(self, root: Path, key: str) -> None:
        self.pid = os.getpid()
        self.root, self.key = root, key
        self.lock = root / f"{key}.lock"
        self.classlist = root / f"{key}.{self.pid}.classlist"
        self.tmp = root / f"{key}.{self.pid}.tmp"
        self.log = root / f"{key}.{self.pid}.log"

    def finish(self) -> None:
        """Exit hook: stop this process's JVM, run the recording process,
        bounded, in its own process group (killed whole on a timeout),
        then publish the archive, or write ``<key>.failed`` with the
        recording process's log so no later process retries a build that
        failed. Always removes the class list, tmp file, log and lock."""
        if os.getpid() != self.pid:
            return
        try:
            _stop_jvm()
            package_root = str(Path(__file__).resolve().parent.parent)
            env = {
                **os.environ,
                "SPARK_CONF_DIR": str(self.root / "conf"),
                "PYTHONPATH": os.pathsep.join(filter(None, [package_root, os.environ.get("PYTHONPATH")])),
            }
            script = ("import sys; from polla_spark.session import _record_classes; "
                      "sys.exit(_record_classes(*sys.argv[1:]))")
            with open(self.log, "wb") as log:
                child = subprocess.Popen(
                    [sys.executable, "-c", script, str(self.classlist), str(self.tmp)],
                    env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
                    start_new_session=True, preexec_fn=_die_with_parent(),
                )
                try:
                    code = child.wait(timeout=BUILD_TIMEOUT_S)
                finally:
                    if child.returncode is None:
                        with contextlib.suppress(ProcessLookupError):
                            os.killpg(child.pid, signal.SIGKILL)
                        child.wait()
            if code != 0:
                raise RuntimeError(f"recording process exited with {code}")
            archive = self.root / f"{self.key}.jsa"
            os.replace(self.tmp, archive)
            cutoff = time.time() - STALE_ARCHIVE_S
            for old in self.root.glob("*.jsa"):
                if old != archive and old.stat().st_mtime < cutoff:
                    old.unlink(missing_ok=True)
        except Exception as exc:
            # an exit hook reports and never raises
            logging.getLogger(__name__).warning("class archive not built: %r", exc)
            with contextlib.suppress(OSError):
                os.replace(self.log, self.root / f"{self.key}.failed")
        finally:
            for path in (self.classlist, self.tmp, self.log, self.lock):
                path.unlink(missing_ok=True)


def _record_classes(classlist: str, archive: str) -> int:
    """Body of the recording process: launch a JVM that writes its
    loaded-class list while it builds a session and runs ``_sample_job``,
    stop it, then dump the list into ``archive`` with the classpath and
    module options that JVM really used. Returns the exit code: 0 only
    when the dump succeeded, 3 when the classpath holds a non-empty
    directory (``-Xshare:dump`` refuses one; Spark's launcher also puts
    ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` and ``SPARK_DIST_CLASSPATH``
    there). The parent holds the build lock, so ``get_spark`` launches
    plain here, with ``SPARK_CONF_DIR`` the empty dir a use-mode launch
    gets: the same classpath."""
    spark = get_spark("polla_spark_cds", extra_conf={
        "spark.driver.extraJavaOptions": f"-XX:DumpLoadedClassList={classlist}",
    })
    jvm = spark._jvm
    classpath = jvm.System.getProperty("java.class.path")
    dirs = [p for p in classpath.split(os.pathsep) if os.path.isdir(p) and os.listdir(p)]
    if dirs:
        print(f"non-empty directory on the classpath: {dirs}", file=sys.stderr)
        _stop_jvm()
        return 3
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    dump = [
        os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
        "-Xshare:dump",
        f"-XX:SharedClassListFile={classlist}",
        f"-XX:SharedArchiveFile={archive}",
        "-cp", classpath,
        *(a for a in args if a.startswith("--")),
    ]
    _sample_job(spark)
    _stop_jvm()
    return subprocess.run(dump, stdin=subprocess.DEVNULL, preexec_fn=_die_with_parent()).returncode


def _die_with_parent():
    """A ``preexec_fn`` that has the child SIGKILLed when its parent dies
    (Linux ``PR_SET_PDEATHSIG``), so a build whose process is killed
    leaves no recording process or dump running; None elsewhere. The
    libc function is looked up before the fork."""
    if not sys.platform.startswith("linux"):
        return None
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    return lambda: prctl(1, signal.SIGKILL)  # 1 = PR_SET_PDEATHSIG


def _sample_job(spark: SparkSession) -> None:
    """A small job shaped like a fresh process's first work: the
    one-shuffle warm-up, an Arrow ``LocalRelation`` with a timestamp,
    a join, a window, an aggregation and a parquet round trip."""
    import datetime
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                   StructType, TimestampType)

    spark.range(1 << 16).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    schema = StructType([
        StructField("k", LongType()), StructField("name", StringType()),
        StructField("amount", DoubleType()), StructField("ts", TimestampType()),
    ])
    day = datetime.datetime(2024, 1, 1)
    rows = [{"k": i % 7, "name": f"n{i}", "amount": i * 1.5,
             "ts": day + datetime.timedelta(hours=i)} for i in range(50)]
    df = local_frame(spark, rows, schema)
    ranked = df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("ts"))))
    joined = ranked.join(spark.range(7).withColumnRenamed("id", "k"), "k")
    joined.groupBy("k").agg(F.sum("amount"), F.max("ts"), F.count("name")).collect()
    with tempfile.TemporaryDirectory() as tmp:
        joined.write.parquet(os.path.join(tmp, "t"))
        spark.read.parquet(os.path.join(tmp, "t")).where("r = 1").toPandas()


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


#: session confs that change the schema Spark infers from a parquet
#: file; part of every schema-memo key
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: (real path, infer confs) -> (file stamp, inferred StructType), the
#: schema memo of ``read_table``; a changed file replaces its entry
_SCHEMAS: dict[tuple, tuple] = {}


def _file_stamp(path: str) -> tuple | None:
    """What the schema of ``path`` depends on, as a key: for a file its
    size and ``mtime_ns``; for a directory the sorted (relative name,
    size, ``mtime_ns``) of every data file under it (names starting
    with ``_`` or ``.``, which Spark skips, are left out). None for a
    path the local file system cannot stat."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in names:
                if not name.startswith(("_", ".")):
                    full = os.path.join(root, name)
                    st = os.stat(full)
                    files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet, normalizing timestamp physical types.

    Schema inference starts one Spark job per read, so the inferred
    schema is memoised per process and later reads pass it to
    ``spark.read.schema(…)``, which starts none. The memo key is the
    file's real path, its stamp (size and ``mtime_ns``; for a
    directory, the name, size and ``mtime_ns`` of every data file
    under it) and the session's values of the confs that change what
    Spark infers (``_INFER_CONFS``). Rewriting the file or directory,
    or reading from a session with other such confs, infers again. A
    path the local file system cannot stat (a URI) is always inferred.

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

    path = os.path.join(sf_dir, f"{name}.parquet")
    real = os.path.realpath(path)
    slot = (real, *(spark.conf.get(k) for k in _INFER_CONFS))
    stamp = _file_stamp(real)
    hit = _SCHEMAS.get(slot)
    if hit is not None and hit[0] == stamp:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMAS[slot] = (stamp, df.schema)
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
