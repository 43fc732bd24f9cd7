"""Wiring of the session factory's worker and driver-JVM settings."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = """
import json

from pyspark import SparkContext

from swingstream.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.range(10).count()
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    maps = sorted({ln.split()[-1] for ln in fh if "swingstream-cds" in ln})
print("RESULT " + json.dumps({"pid": pid, "maps": maps}), flush=True)
"""


def test_workers_use_stat_checked_zip_importers(spark):
    """Python workers of a local session come from swingstream.pydaemon:
    every zip importer they hold is the stat-checked one."""
    master = spark.sparkContext.master
    if not (master == "local" or master.startswith("local[")):
        pytest.skip("only local masters use the swingstream worker daemon")

    def zip_finder_classes(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        names = sorted({type(f).__name__
                        for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)})
        yield pd.DataFrame({"names": [",".join(names)]})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInPandas(zip_finder_classes, "names string").collect())
    assert len(rows) == 4
    assert {r["names"] for r in rows} == {"StatCheckedZipImporter"}


def test_second_session_maps_the_class_archive(tmp_path):
    """A local session's JVM dumps its classes at exit, and the next
    session's JVM maps that archive; neither JVM outlives its process.
    Both run as their own processes, with the temp dir and the driver
    java options set as the benchmark sets them."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SWINGSTREAM_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
               PYSPARK_SUBMIT_ARGS=(f"--driver-java-options "
                                    f"-Djava.io.tmpdir={tmp} pyspark-shell"))
    env.pop("SPARK_CONF_DIR", None)
    cache = tmp / "swingstream-cds"

    def session():
        proc = subprocess.run([sys.executable, "-c", SESSION], env=env,
                              capture_output=True, text=True, timeout=300,
                              cwd=tmp_path)
        lines = proc.stdout.splitlines()
        assert lines and lines[-1].startswith("RESULT "), (
            f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
        return json.loads(lines[-1][len("RESULT "):])

    first = session()
    assert first["maps"] == []
    # the dumping JVM exited before its session's process did
    assert not os.path.exists(f"/proc/{first['pid']}")
    published = sorted(n for n in os.listdir(cache)
                       if n.endswith((".jsa", ".part")))
    assert len(published) == 1 and published[0].endswith(".jsa"), published
    second = session()
    assert second["maps"] == [str(cache / published[0])]
    # the non-dumping JVM has exited too when its session's process returns
    assert not os.path.exists(f"/proc/{second['pid']}")
