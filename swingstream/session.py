"""SparkSession factory with engine defaults pinned.

Pins (SURVEY.md §4.2/§4.3): Arrow-vectorized Python exec on, UTC session
timezone (duckdb-oracle comparability), AQE on for batch, shuffle/state
partition count fixed BEFORE the first streaming checkpoint so local[8]
and local[32] share checkpoints and output identically.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import struct
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.util import _parse_memory

# State partition count is frozen at the first checkpoint — pin it here
# (SURVEY.md §4.3 pin #2).  64 covers local[8]..local[32] and a real
# 1000-executor cluster would raise it via env before first deploy.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SWINGSTREAM_SHUFFLE_PARTITIONS", "64"))

# InferFiltersFromGenerate re-evaluates a projected generator input
# below the exchange (alias-substituted through the projection) — for
# this engine's n-gram explodes the inferred size() filter costs a FULL
# second tokenize+gram build per row and never prunes anything the
# explode wouldn't (measured 6-30x on the gram operators, round 7).
# contract._prep sets the same exclusion on the driver-owned session.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def max_partition_bytes() -> str:
    """Scan split size (r8, guide §6): the fixture tables are single
    parquet files whose row groups cap scan parallelism; 16m keeps
    every row group in its own task so CPU-heavy scans use the whole
    core budget (q05 2.4x, q01 1.3x at sf1.0).  Production corpora of
    many 128MB+ files want the guide's 512m-1g — override via
    ``SWINGSTREAM_MAX_PARTITION_BYTES``; a too-small value there only
    costs empty scheduler splits (tasks whose byte range holds no
    row-group midpoint), never correctness."""
    return os.environ.get("SWINGSTREAM_MAX_PARTITION_BYTES", "16m")


class _ClassArchive:
    """Dynamic class-data-sharing archive (JEP 350) of a driver JVM that
    ``get_spark`` launches on a local master.

    A cache hit starts the JVM with ``-XX:SharedArchiveFile``, so it maps
    the class metadata an earlier session's JVM loaded (``-Xshare:auto``,
    the default: a mismatch only loses the speed-up).  A miss has the JVM
    dump its classes at exit (``-XX:ArchiveClassesAtExit``) to a ``.part``
    file, which ``publish`` renames into place once that JVM has exited
    cleanly (``_end_jvm``, at interpreter exit).  A published name
    carries the archive's byte size, so a truncated archive is never
    handed to a JVM.  A miss holds ``dump.lock`` until publication: one
    JVM dumps at a time, and a session that loses the race runs without
    an archive.

    Archives live under ``<tempfile.gettempdir()>/swingstream-cds/``,
    keyed on the JDK, the Spark jars, the conf dir and the heap's
    compressed-oops mode; a dump clears every archive there but the
    other mode's.  The dump refuses a non-empty directory on the
    classpath, and Spark's conf dir is on it even when it holds only
    ``*.template`` files, so the JVM launches against the empty
    ``conf/`` inside the cache; a conf dir with real settings gets no
    archive, and is honoured.
    """

    MAGIC = 0xF00BABA8  # a JDK dynamic archive's header, native byte order
    # A dump logs one warning per class it skips (~600 for a session),
    # and a hit whose classpath does not match logs why, to the JVM's
    # stdout, which is the Python driver's stdout.
    QUIET = "-Xlog:cds*=off"

    def __init__(self, root: str, key: str, archive: str | None):
        self.root, self.key, self.lock = root, key, None
        self.conf_dir = os.path.join(root, "conf")
        if archive is None:
            self.part = os.path.join(root, f"{key}.{os.getpid()}.part")
            self.java_options = f"-XX:ArchiveClassesAtExit={self.part} {self.QUIET}"
        else:
            self.part = None
            self.java_options = f"-XX:SharedArchiveFile={archive} {self.QUIET}"

    @classmethod
    def plan(cls, heap: str) -> _ClassArchive | None:
        """The archive for the JVM this process is about to launch with a
        ``heap`` (spark.driver.memory) heap, or None when the conf dir
        holds real settings or another process is dumping."""
        root = os.path.join(tempfile.gettempdir(), "swingstream-cds")
        if any(c.isspace() or c in "\"'\\" for c in root):
            return None  # spark-submit splits the java options on these
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
            os.path.dirname(os.path.realpath(shutil.which("java") or "java")))
        try:
            if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
                return None
            # a heap of 32 GB or more runs without compressed oops, and an
            # archive dumped in one mode does not map in the other
            big = _parse_memory(heap) >= 32 * 1024
            key = cls.cache_key(java_home, os.path.join(spark_home, "jars"), conf_dir, big)
            os.makedirs(os.path.join(root, "conf"), exist_ok=True)
            archive = cls.published(root, key)
            if archive is not None:
                return cls(root, key, archive)
            lock = os.open(os.path.join(root, "dump.lock"), os.O_RDWR | os.O_CREAT, 0o644)
        except (OSError, ValueError):  # ValueError: a heap with no unit
            return None
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(lock)
            return None
        archive = cls.published(root, key)  # published before the lock came free
        if archive is not None:
            os.close(lock)
            return cls(root, key, archive)
        # no intact archive under this key: the rest, but the other
        # mode's, are superseded, truncated, or parts whose dumper has gone
        other = "coops-" if big else "nocoops-"
        for name in os.listdir(root):
            if name.endswith((".jsa", ".part")) and not name.startswith(other):
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(root, name))
        plan = cls(root, key, None)
        plan.lock = lock
        return plan

    @staticmethod
    def cache_key(java_home: str, jars_dir: str, conf_dir: str, big_heap: bool) -> str:
        """``<mode>-<digest>``: the mode names the compressed-oops
        setting, so each mode's files are told apart by name."""
        h = hashlib.sha256(java_home.encode())
        with open(os.path.join(java_home, "release"), "rb") as fh:
            h.update(fh.read())
        for name in sorted(os.listdir(jars_dir)):
            st = os.stat(os.path.join(jars_dir, name))
            h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        h.update(f"\0{conf_dir}".encode())
        return ("nocoops-" if big_heap else "coops-") + h.hexdigest()[:16]

    @classmethod
    def archive_size(cls, path: str) -> int | None:
        """Byte size of the dynamic archive at ``path``, None if it is not one."""
        try:
            with open(path, "rb") as fh:
                head = fh.read(4)
                size = os.fstat(fh.fileno()).st_size
        except OSError:
            return None
        return size if head == struct.pack("=I", cls.MAGIC) else None

    @classmethod
    def published(cls, root: str, key: str) -> str | None:
        for name in os.listdir(root):
            stem, _, size = name.removesuffix(".jsa").rpartition("-")
            path = os.path.join(root, name)
            if (name.endswith(".jsa") and stem == key and size.isdigit()
                    and cls.archive_size(path) == int(size)):
                return path
        return None

    @contextlib.contextmanager
    def launching(self):
        """Launch the JVM against the empty conf dir, then restore
        ``os.environ``."""
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved

    def publish(self, proc: subprocess.Popen) -> None:
        """Publish a dumping JVM's archive once it has exited cleanly."""
        if self.part is None:
            return
        try:
            size = self.archive_size(self.part) if proc.returncode == 0 else None
            if size is not None:
                os.replace(self.part, os.path.join(self.root, f"{self.key}-{size}.jsa"))
        finally:
            self.release()

    def release(self) -> None:
        if self.part is not None:
            with contextlib.suppress(OSError):
                os.remove(self.part)
        if self.lock is not None:
            os.close(self.lock)
            self.lock = None


JVM_EXIT_WAIT_S = 120  # a 187 MB class-archive dump took ~17 s at JVM exit


def _end_jvm(proc: subprocess.Popen, archive: _ClassArchive | None) -> None:
    """The one exit path of a driver JVM that ``get_spark`` launched, run
    at interpreter exit: close its stdin (the gateway JVM exits when it
    reads EOF there), wait for it, kill it on timeout, then publish its
    class archive if it was dumping one.  The JVM is gone when the
    Python process returns."""
    try:
        if SparkContext._active_spark_context is not None:
            # a session left running: stop it first, or its accumulator
            # server's connection reports the JVM's exit as an error
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
        if proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=JVM_EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    finally:
        if archive is not None:
            archive.publish(proc)


def get_spark(
    master: str | None = None,
    app_name: str = "swingstream",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SWINGSTREAM_MASTER", "local[*]")
    # Shuffle/spill/state scratch on tmpfs when available: this sandbox
    # has ONE rootfs disk shared by every executor thread, so disk-bound
    # shuffle writes serialize and poison any core-scaling measurement
    # (batch feature agg measured 2.3x on 4x cores via /tmp, 3.1x via
    # tmpfs).  A real cluster has per-node NVMe — tmpfs is the faithful
    # stand-in, not a cheat (126 GiB available vs ~1 GiB shuffles).
    driver_memory = os.environ.get("SWINGSTREAM_DRIVER_MEM", "8g")
    local_dir = os.environ.get(
        "SWINGSTREAM_LOCAL_DIR",
        "/dev/shm/swingstream-local" if os.path.isdir("/dev/shm") else "",
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # INT96 (the legacy default) carries no parquet min/max stats —
        # the sink's per-partition event-time lineage reads footer stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        # RocksDB state store (prod pin): large per-host state spills off
        # heap, changelog checkpointing bounds commit latency
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # skip the get-before-put RocksDB does to maintain numRowsTotal:
        # the dedup op writes ~1M state rows per trigger and nothing in
        # the engine reads that metric — measured ~8-9% off the feature
        # query wall at both 2 and 8 bound cores (round 3)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
            "false",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes())
        # r8: Spark 4.1 turned on checkpoint-file checksums by default
        # (spark.sql.streaming.checkpoint.fileChecksum.enabled).  Each
        # state-store commit then writes a .crc sidecar per changelog
        # file through a per-file checksum thread — measured ~2x on the
        # RocksDB changelog fileSync latency (20s -> 10s summed per
        # operator per micro-batch at 64 state partitions) because this
        # sandbox's Hadoop has no native lib and every extra file create
        # forks a chmod shell.  Default off = the pre-4.1 contract the
        # engine was tuned under; re-enable via env where end-to-end
        # checkpoint integrity checking is worth the commit latency.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SWINGSTREAM_CHECKPOINT_FILE_CHECKSUM", "false"),
        )
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    extra_conf = dict(extra_conf or {})
    # spark-submit, or an earlier session, may have started the JVM already
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = None
    if master == "local" or master.startswith("local["):
        # Worker daemon with stat-checked zip importers (pydaemon.py).
        # Stock workers re-read pyspark.zip's 1,328-entry directory once
        # per zip importer on every task's importlib.invalidate_caches():
        # 130-260 ms of set-up per task on 4 vCPUs, against 0.15 ms with
        # it.  q2's state update per task fell 330-390 -> ~100 ms on the
        # swing_dense benchmark and 490-530 -> 230-280 ms on swing_sparse,
        # and their resume_s medians fell 19 % and 17 %.  Local masters
        # only: their workers import swingstream from this driver's
        # sys.path entry (the checkout, or the --py-files zip), appended
        # to the workers' PYTHONPATH so a driver started outside the
        # checkout still finds it.  A cluster executor may not have the
        # package until its first task ships it, so it keeps Spark's
        # daemon.
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        paths = extra_conf.get("spark.executorEnv.PYTHONPATH", "")
        b = b.config("spark.python.daemon.module", "swingstream.pydaemon")
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (paths, pkg_root) if p)
        # Driver JVM from a class-data-sharing archive (_ClassArchive),
        # only when this call launches it: a spark-submit job's JVM is
        # already running.  Session start fell from 6.6-7.8 s to 3.0-3.4 s
        # and the warm-up operation from 21.8-24.5 s to 18.4-20.9 s on
        # swing_dense.  The first session under a new JDK or jar set pays
        # ~17 s at JVM exit to dump the archive.  The options go in
        # through spark.driver.defaultJavaOptions, which spark-submit
        # places ahead of extraJavaOptions (--driver-java-options), so
        # they add to a caller's options rather than replace them.  A
        # cluster driver keeps the stock start.
        heap = extra_conf.get("spark.driver.memory", driver_memory)
        archive = _ClassArchive.plan(heap) if launches else None
        if archive is not None:
            opts = extra_conf.get("spark.driver.defaultJavaOptions", "")
            extra_conf["spark.driver.defaultJavaOptions"] = " ".join(
                o for o in (archive.java_options, opts) if o)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    try:
        with archive.launching() if archive else contextlib.nullcontext():
            spark = b.getOrCreate()
    finally:
        if launches and SparkContext._gateway is not None:
            atexit.register(_end_jvm, SparkContext._gateway.proc, archive)
        elif archive is not None:
            archive.release()  # no JVM came up to dump
    spark.sparkContext.setLogLevel(os.environ.get("SWINGSTREAM_LOG_LEVEL", "ERROR"))
    return spark
