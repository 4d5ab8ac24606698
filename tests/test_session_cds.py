"""The driver JVM's class archive (AppCDS): launch modes, key, fallbacks.

``get_spark`` launches the driver JVM from a per-machine archive under
``$XDG_CACHE_HOME/polla_spark/cds/`` when one exists for this JVM and
jar set; otherwise the first process launches plain and, at exit, has
a separate recording process build the archive. The unit tests here
start no JVM; a shell script stands in for the recording process. The
subprocess tests run fresh processes against a fresh cache: the first
builds the archive, the second maps it, the third survives a corrupt
one with the same rows; and a non-empty ``HADOOP_CONF_DIR`` fails the
build once, for good.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from polla_spark import session

ROOT = Path(__file__).resolve().parent.parent


# -- key ------------------------------------------------------------------------

def fake_install(tmp_path: Path) -> tuple[Path, Path]:
    """A java binary with its libjvm.so, and a Spark home with two jars."""
    java = tmp_path / "jdk" / "bin" / "java"
    libjvm = tmp_path / "jdk" / "lib" / "server" / "libjvm.so"
    for path, body in ((java, "java"), (libjvm, "jvm")):
        path.parent.mkdir(parents=True)
        path.write_text(body)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    (jars / "a.jar").write_text("a")
    (jars / "b.jar").write_text("b")
    return java, tmp_path / "spark"


def test_key_follows_the_jvm_and_the_jar_set(tmp_path):
    java, spark_home = fake_install(tmp_path)
    key = session.cds_key(str(java), str(spark_home))
    assert session.cds_key(str(java), str(spark_home)) == key

    jar = spark_home / "jars" / "a.jar"
    jar.write_text("a, rebuilt")
    sized = session.cds_key(str(java), str(spark_home))
    assert sized != key

    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = session.cds_key(str(java), str(spark_home))
    assert touched not in (key, sized)

    java.write_text("another java")
    assert session.cds_key(str(java), str(spark_home)) not in (key, sized, touched)


# -- launch plan ------------------------------------------------------------------

@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A fresh cache dir, no build in this process, no exit hook, and a
    build that never stops this process's JVM."""
    xdg = tmp_path / "xdg"
    monkeypatch.setenv("XDG_CACHE_HOME", str(xdg))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(session, "_archive_build", None)
    monkeypatch.setattr(session.atexit, "register", lambda fn: fn)
    monkeypatch.setattr(session, "_stop_jvm", lambda: None)
    return xdg / "polla_spark" / "cds"


def test_real_file_in_conf_dir_means_plain_launch(tmp_path, monkeypatch, cache):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.app.name x\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._plan_launch() is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not cache.exists()
    assert session._archive_build is None


def test_first_process_launches_plain_and_builds_at_exit(tmp_path, monkeypatch, cache):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._plan_launch() is None
    build = session._archive_build
    assert build.lock.read_text() == str(os.getpid())
    assert not any((cache / "conf").iterdir())
    # this process builds at most once, and a live holder keeps others out
    assert session._plan_launch() is None and session._archive_build is build
    monkeypatch.setattr(session, "_archive_build", None)
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        build.lock.write_text(str(live.pid))
        assert session._plan_launch() is None and session._archive_build is None
    finally:
        live.kill()
        live.wait()

    archive = cache / f"{build.key}.jsa"
    archive.write_text("")
    os.utime(archive, (0, 0))
    assert session._plan_launch() == (f"-XX:SharedArchiveFile={archive}", cache / "conf")
    assert archive.stat().st_mtime > 0  # marked in use


def fake_python(tmp_path: Path, body: str) -> str:
    """A stand-in for the recording process: ``$4`` is the tmp archive."""
    script = tmp_path / "fake_python"
    script.write_text("#!/bin/sh\n" + body + "\n")
    script.chmod(0o755)
    return str(script)


def test_failed_build_is_recorded_and_not_retried(tmp_path, monkeypatch, cache):
    monkeypatch.setattr(session.sys, "executable",
                        fake_python(tmp_path, "echo 'no dump here' >&2; exit 3"))
    assert session._plan_launch() is None
    build = session._archive_build
    build.classlist.write_text("java/lang/Object\n")
    build.finish()
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", f"{build.key}.failed"])
    assert "no dump here" in (cache / f"{build.key}.failed").read_text()
    monkeypatch.setattr(session, "_archive_build", None)
    assert session._plan_launch() is None
    assert session._archive_build is None and not build.lock.exists()


def test_build_publishes_and_prunes_only_unused_archives(tmp_path, monkeypatch, cache):
    monkeypatch.setattr(session.sys, "executable", fake_python(tmp_path, 'echo jsa > "$4"'))
    cache.mkdir(parents=True)
    unused, in_use = cache / "old.jsa", cache / "other.jsa"
    unused.write_text("")
    in_use.write_text("")
    os.utime(unused, (0, 0))
    assert session._plan_launch() is None
    session._archive_build.finish()
    key = session._archive_build.key
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", f"{key}.jsa", "other.jsa"])
    assert (cache / f"{key}.jsa").read_text() == "jsa\n"


def gone(pid: int) -> bool:
    """No such process, or a zombie waiting to be reaped."""
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc")
def test_build_past_its_bound_is_killed_with_its_children(tmp_path, monkeypatch, cache):
    pids = tmp_path / "pids"
    monkeypatch.setattr(session.sys, "executable", fake_python(
        tmp_path, f'sleep 300 & echo $$ $! > {pids}; wait'))
    monkeypatch.setattr(session, "BUILD_TIMEOUT_S", 2)
    assert session._plan_launch() is None
    session._archive_build.finish()
    key = session._archive_build.key
    assert all(gone(int(pid)) for pid in pids.read_text().split())
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", f"{key}.failed"])


KILLED = r"""
import sys
from polla_spark import session
session._stop_jvm = lambda: None
sys.executable = sys.argv[1]
assert session._plan_launch() is None
session._archive_build.finish()
"""


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="PR_SET_PDEATHSIG")
def test_killed_build_takes_its_recording_process_down(tmp_path):
    pid_file = tmp_path / "pid"
    script = fake_python(tmp_path, f"echo $$ > {pid_file}.part; mv {pid_file}.part {pid_file}; exec sleep 300")
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg")}
    env.pop("SPARK_CONF_DIR", None)
    building = subprocess.Popen([sys.executable, "-c", KILLED, script], cwd=ROOT, env=env)
    try:
        for _ in range(600):
            if pid_file.exists() or building.poll() is not None:
                break
            time.sleep(0.1)
        recording = int(pid_file.read_text())
        assert not gone(recording)
    finally:
        building.kill()
        building.wait()
    for _ in range(50):
        if gone(recording):
            break
        time.sleep(0.1)
    assert gone(recording)


def test_stale_lock_is_taken_over(cache):
    cache.mkdir(parents=True)
    lock = cache / "k.lock"
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    for pid in (dead.pid, os.getpid()):  # a dead pid; this pid, left by a killed run
        lock.write_text(str(pid))
        for leftover in ("classlist", "tmp", "log"):
            (cache / f"k.{pid}.{leftover}").write_text("")
        assert session._take_lock(lock)
        assert lock.read_text() == str(os.getpid())
        assert sorted(p.name for p in cache.iterdir()) == ["k.lock"]
        lock.unlink()
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        lock.write_text(str(live.pid))
        assert not session._take_lock(lock)
    finally:
        live.kill()
        live.wait()


@pytest.mark.parametrize("how", ["read-only", "file in the way"])
def test_unwritable_cache_means_plain_launch(tmp_path, monkeypatch, cache, how):
    xdg = tmp_path / "blocked"
    if how == "read-only":
        if os.geteuid() == 0:
            pytest.skip("root writes through a read-only mode")
        xdg.mkdir(mode=0o555)
    else:
        xdg.write_text("not a directory")
    monkeypatch.setenv("XDG_CACHE_HOME", str(xdg))
    assert session._plan_launch() is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_user_java_options_are_kept(tmp_path, monkeypatch):
    """get_spark merges the archive option into extraJavaOptions given in
    ``extra_conf``, points SPARK_CONF_DIR at the empty dir only while the
    JVM launches, and restores it after."""
    from pyspark import SparkContext

    seen = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            seen["SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    monkeypatch.setattr(session, "_plan_launch",
                        lambda: ("-XX:SharedArchiveFile=/c/k.jsa", tmp_path / "empty"))
    monkeypatch.setenv("SPARK_CONF_DIR", "/etc/spark")
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dx=1 -XX:+UseG1GC"})
    assert seen["spark.driver.extraJavaOptions"] == "-Dx=1 -XX:+UseG1GC -XX:SharedArchiveFile=/c/k.jsa"
    assert seen["SPARK_CONF_DIR"] == str(tmp_path / "empty")
    assert os.environ["SPARK_CONF_DIR"] == "/etc/spark"


# -- three fresh processes ----------------------------------------------------------

CHILD = r"""
import json, os
from polla_spark.session import get_spark

spark = get_spark("cds_test", cpus=2)
jvm = spark._jvm
rows = spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().orderBy("k").collect()
with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") as fh:
    maps = fh.read()
print(json.dumps({
    "rows": [list(r) for r in rows],
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "vm_info": jvm.System.getProperty("java.vm.info"),
    "maps": maps,
}))
"""


def run_child(xdg: Path, **extra_env: str) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": str(xdg), **extra_env}
    env.pop("SPARK_CONF_DIR", None)
    r = subprocess.run([sys.executable, "-c", CHILD], capture_output=True, text=True,
                       cwd=ROOT, env=env, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def processes_naming(text: str) -> list[str]:
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
        except OSError:
            continue
        if text in cmd:
            found.append(cmd)
    return found


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc")
def test_first_process_builds_the_archive_later_ones_map_it(tmp_path):
    xdg = tmp_path / "xdg"
    cds = xdg / "polla_spark" / "cds"
    want = [[0, 34], [1, 33], [2, 33]]

    first = run_child(xdg)
    assert first["rows"] == want
    # the building process's own JVM launches plain
    assert not any(a.startswith("-XX:Shared") or a.startswith("-XX:Dump") for a in first["args"])
    archives = list(cds.glob("*.jsa"))
    assert len(archives) == 1
    assert sorted(p.name for p in cds.iterdir()) == sorted(["conf", archives[0].name])
    # neither the served JVM nor the recording or dump JVM outlived the process
    assert processes_naming(str(tmp_path)) == []

    second = run_child(xdg)
    assert second["rows"] == want
    assert f"-XX:SharedArchiveFile={archives[0]}" in second["args"]
    assert "sharing" in second["vm_info"]
    assert str(archives[0]) in second["maps"]

    archives[0].chmod(0o644)
    os.truncate(archives[0], 1024)
    third = run_child(xdg)
    assert third["rows"] == want
    assert f"-XX:SharedArchiveFile={archives[0]}" in third["args"]
    assert str(archives[0]) not in third["maps"]
    assert sorted(p.name for p in cds.iterdir()) == sorted(["conf", archives[0].name])
    assert processes_naming(str(tmp_path)) == []


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc")
def test_non_empty_dir_on_the_classpath_fails_the_build_once(tmp_path):
    """Spark's launcher puts HADOOP_CONF_DIR on the classpath, which
    ``-Xshare:dump`` refuses when it holds a file: the recording process
    sees that on its JVM's real classpath and gives up, and the failure
    marker keeps later processes from recording again."""
    hadoop_conf = tmp_path / "hadoop-conf"
    hadoop_conf.mkdir()
    (hadoop_conf / "core-site.xml").write_text("<configuration/>")
    xdg = tmp_path / "xdg"
    cds = xdg / "polla_spark" / "cds"

    first = run_child(xdg, HADOOP_CONF_DIR=str(hadoop_conf))
    assert first["rows"] == [[0, 34], [1, 33], [2, 33]]
    failed = list(cds.glob("*.failed"))
    assert [p.name for p in cds.iterdir() if p.name != "conf"] == [failed[0].name]
    assert "non-empty directory on the classpath" in failed[0].read_text()
    assert str(hadoop_conf) in failed[0].read_text()
    assert processes_naming(str(tmp_path)) == []
