"""The driver JVM's class-data-sharing archive (session._ClassArchive).

No Spark: each test runs the helper against a fake JDK and Spark install
under tmp_path, with the temp dir pointed there too.  A "JVM" is a fake
process whose exit code the test sets, and a "dump" is a file the test
writes at the part path, headed by a dynamic archive's magic."""

from __future__ import annotations

import atexit
import os
import re
import struct
import subprocess
import sys
import tempfile

import pytest
from pyspark import SparkContext

from swingstream.session import _ClassArchive, get_spark


class FakeJvm:
    """The gateway process as ``publish`` sees it: already exited."""

    def __init__(self, returncode: int):
        self.returncode = returncode

    def poll(self):
        return self.returncode


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A JDK, a Spark home holding two jars and a templates-only conf dir,
    and the temp dir, all under tmp_path; no JVM or session running."""
    java = tmp_path / "jdk"
    java.mkdir()
    (java / "release").write_text('JAVA_VERSION="17.0.1"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "jars" / "a.jar").write_bytes(b"a")
    (spark / "jars" / "b.jar").write_bytes(b"bb")
    (spark / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("JAVA_HOME", str(java))
    monkeypatch.setenv("SPARK_HOME", str(spark))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    return {"java": java, "spark": spark, "cache": tmp / "swingstream-cds"}


def dump(plan: _ClassArchive, size: int = 4096) -> None:
    """Stand in for the JVM's dump at exit: a ``size``-byte archive."""
    with open(plan.part, "wb") as fh:
        fh.write(struct.pack("=I", _ClassArchive.MAGIC).ljust(size, b"\0"))


def archives(install) -> list[str]:
    return sorted(n for n in os.listdir(install["cache"])
                  if n.endswith((".jsa", ".part")))


def test_key_follows_jdk_jars_and_conf_dir(install):
    java, spark = str(install["java"]), install["spark"]

    def key(conf="conf"):
        return _ClassArchive.cache_key(java, str(spark / "jars"),
                                       str(spark / conf), False)

    base = key()
    assert key() == base
    (install["java"] / "release").write_text('JAVA_VERSION="17.0.2"\n')
    jdk = key()
    assert jdk != base
    (spark / "jars" / "b.jar").write_bytes(b"b2")  # same size, new mtime
    os.utime(spark / "jars" / "b.jar", ns=(1, 1))
    jar = key()
    assert jar != jdk
    (spark / "jars" / "c.jar").write_bytes(b"c")
    assert key() != jar
    assert key("conf2") != key()


def test_cold_start_dumps_then_next_start_maps_the_archive(install):
    env = dict(os.environ)
    plan = _ClassArchive.plan("8g")
    assert plan.java_options.startswith(f"-XX:ArchiveClassesAtExit={plan.part} ")
    with plan.launching():
        # the JVM launches against the empty conf dir inside the cache
        assert os.environ["SPARK_CONF_DIR"] == str(install["cache"] / "conf")
        assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
    assert dict(os.environ) == env
    dump(plan)  # the JVM dumps as it exits
    assert archives(install) == [os.path.basename(plan.part)]
    plan.publish(FakeJvm(0))
    assert archives(install) == [f"{plan.key}-4096.jsa"]

    hit = _ClassArchive.plan("8g")
    assert hit.java_options.startswith(
        f"-XX:SharedArchiveFile={install['cache'] / archives(install)[0]} ")
    assert hit.part is None and hit.lock is None


def test_failed_or_partial_dump_is_never_handed_to_a_jvm(install):
    plan = _ClassArchive.plan("8g")
    dump(plan)
    plan.publish(FakeJvm(137))  # killed while dumping
    assert archives(install) == []

    # a part left by a dumper that died, and a published archive cut short
    plan = _ClassArchive.plan("8g")
    dump(plan)
    plan.release()  # its lock goes with its process
    with open(install["cache"] / f"{plan.key}.1.part", "wb") as fh:
        fh.write(struct.pack("=I", _ClassArchive.MAGIC).ljust(4096, b"\0"))
    with open(install["cache"] / f"{plan.key}-4096.jsa", "wb") as fh:
        fh.write(struct.pack("=I", _ClassArchive.MAGIC).ljust(1000, b"\0"))
    fresh = _ClassArchive.plan("8g")
    assert "-XX:ArchiveClassesAtExit=" in fresh.java_options
    assert "SharedArchiveFile" not in fresh.java_options
    assert archives(install) == []  # the dumper cleared both
    fresh.release()


def test_superseded_archive_is_deleted_by_the_next_dump(install):
    plan = _ClassArchive.plan("8g")
    dump(plan)
    plan.publish(FakeJvm(0))
    old = archives(install)
    (install["spark"] / "jars" / "c.jar").write_bytes(b"c")  # Spark upgrade
    plan = _ClassArchive.plan("8g")
    assert plan.part is not None
    assert archives(install) == []
    dump(plan, 8192)
    plan.publish(FakeJvm(0))
    assert archives(install) == [f"{plan.key}-8192.jsa"] != old


def test_racing_cold_starts_give_one_dumper(install):
    first = _ClassArchive.plan("8g")
    second = _ClassArchive.plan("8g")
    assert first.part is not None
    assert second is None  # runs without an archive while first dumps
    dump(first)
    first.publish(FakeJvm(0))
    third = _ClassArchive.plan("8g")
    assert third.part is None and "SharedArchiveFile" in third.java_options


@pytest.fixture
def builder(monkeypatch):
    """Replace the session builder with one that records the conf and the
    environment the session is created under, then raises."""
    seen = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            seen["env"] = dict(os.environ)
            raise RuntimeError("stop before Spark")

    monkeypatch.setattr("swingstream.session.SparkSession.builder", Builder())
    return seen


def test_local_session_launches_with_the_flags(install, builder):
    env = dict(os.environ)
    with pytest.raises(RuntimeError, match="stop before Spark"):
        get_spark(master="local[2]", extra_conf={
            "spark.driver.defaultJavaOptions": "-Dcaller=1"})
    opts = builder["spark.driver.defaultJavaOptions"]
    assert opts.startswith("-XX:ArchiveClassesAtExit=")
    assert opts.endswith(" -Dcaller=1")  # merged, the caller's last
    assert builder["env"]["SPARK_CONF_DIR"] == str(install["cache"] / "conf")
    assert dict(os.environ) == env
    # the failed launch gave up the dump: its lock and part are gone
    fresh = _ClassArchive.plan("8g")
    assert fresh.part is not None
    fresh.release()


@pytest.mark.parametrize("case", ["conf_file", "cluster", "gateway",
                                  "submit"])
def test_no_flags_and_environ_untouched(install, builder, monkeypatch, case):
    """A conf dir holding settings, a cluster master, or a JVM already
    running get no CDS flags, and os.environ is left as it was."""
    master = "local[2]"
    if case == "conf_file":
        (install["spark"] / "conf" / "spark-defaults.conf").write_text(
            "spark.driver.memory 2g\n")
    elif case == "cluster":
        master = "spark://head:7077"
    elif case == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    else:  # the Python driver of a spark-submit job
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    env = dict(os.environ)
    with pytest.raises(RuntimeError, match="stop before Spark"):
        get_spark(master=master)
    assert builder["env"] == env and dict(os.environ) == env
    assert "spark.driver.defaultJavaOptions" not in builder
    assert not os.path.exists(install["cache"])


def test_heap_modes_keep_their_own_archives(install):
    """A heap of 32 GB or more runs without compressed oops, and an
    archive dumped in one mode does not map in the other: each mode has
    its own key, and one mode's dump keeps the other mode's archive."""
    small = _ClassArchive.plan("8g")
    dump(small)
    small.publish(FakeJvm(0))
    big = _ClassArchive.plan("48g")
    assert big.key != small.key and big.part is not None  # a miss
    assert archives(install) == [f"{small.key}-4096.jsa"]  # kept
    dump(big, 8192)
    big.publish(FakeJvm(0))
    assert archives(install) == sorted([f"{small.key}-4096.jsa",
                                        f"{big.key}-8192.jsa"])
    for heap, name in (("8g", f"{small.key}-4096.jsa"), ("48g", f"{big.key}-8192.jsa")):
        hit = _ClassArchive.plan(heap)
        assert hit.part is None
        assert hit.java_options.startswith(
            f"-XX:SharedArchiveFile={install['cache'] / name} ")


# A stand-in for the gateway JVM: it exits when its stdin closes, and
# first writes the archive a -XX:ArchiveClassesAtExit flag names.
FAKE_JVM = f"""
import struct, sys
sys.stdin.read()
if len(sys.argv) > 1:
    with open(sys.argv[1], "wb") as fh:
        fh.write(struct.pack("=I", {_ClassArchive.MAGIC}).ljust(4096, b"\\0"))
"""


@pytest.fixture
def launcher(monkeypatch):
    """A session builder whose getOrCreate launches a fake JVM as the
    gateway process (``seen["jvm"]``, the script it runs), and the exit
    handlers registered with atexit."""
    seen = {"at_exit": [], "jvm": FAKE_JVM}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            part = re.findall(r"-XX:ArchiveClassesAtExit=(\S+)",
                              seen.get("spark.driver.defaultJavaOptions", ""))
            proc = subprocess.Popen([sys.executable, "-c", seen["jvm"], *part],
                                    stdin=subprocess.PIPE)
            monkeypatch.setattr(SparkContext, "_gateway",
                                type("Gateway", (), {"proc": proc})())
            return type("Session", (), {"sparkContext": type(
                "Context", (), {"setLogLevel": staticmethod(lambda level: None)})})()

    monkeypatch.setattr("swingstream.session.SparkSession.builder", Builder())
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *args: seen["at_exit"].append((fn, args)))
    return seen


def test_every_launched_jvm_ends_at_exit(install, launcher, monkeypatch):
    """One exit path for every JVM get_spark launches: at interpreter
    exit its stdin is closed and it is waited for; a dumping JVM's
    archive is then published, and the next, non-dumping JVM ends the
    same way."""
    for expect_dump in (True, False):
        launcher["at_exit"].clear()
        get_spark(master="local[1]")
        [(end, args)] = launcher["at_exit"]
        proc = args[0]
        assert proc is SparkContext._gateway.proc and proc.poll() is None
        end(*args)  # interpreter exit
        assert proc.returncode == 0
        published = archives(install)
        assert len(published) == 1 and published[0].endswith("-4096.jsa")
        assert ("ArchiveClassesAtExit" in launcher[
            "spark.driver.defaultJavaOptions"]) == expect_dump
        monkeypatch.setattr(SparkContext, "_gateway", None)  # the next process


def test_a_jvm_that_ignores_eof_is_killed(install, launcher, monkeypatch):
    monkeypatch.setattr("swingstream.session.JVM_EXIT_WAIT_S", 0.5)
    launcher["jvm"] = "import time\ntime.sleep(60)\n"
    get_spark(master="spark://head:7077")  # no archive, still one exit path
    [(end, args)] = launcher["at_exit"]
    end(*args)
    assert args[0].returncode is not None and args[0].returncode < 0
