"""SparkSession factory with engine defaults pinned.

Pins (SURVEY.md §4.2/§4.3): Arrow-vectorized Python exec on, UTC session
timezone (duckdb-oracle comparability), AQE on for batch, shuffle/state
partition count fixed BEFORE the first streaming checkpoint so local[8]
and local[32] share checkpoints and output identically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
        .config("spark.driver.memory", os.environ.get("SWINGSTREAM_DRIVER_MEM", "8g"))
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
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(os.environ.get("SWINGSTREAM_LOG_LEVEL", "ERROR"))
    return spark
