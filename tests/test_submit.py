"""Deployment-form smoke: the engine runs via `spark-submit --py-files`
(BASELINE.json: "deployed via spark-submit --py-files on multi-executor
clusters") — the package is zipped, shipped as --py-files, and a fresh
driver runs the batch SWING pipeline end-to-end."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import swingstream

JOB = """
import json

from swingstream.session import get_spark

spark = get_spark(master="local[4]", app_name="swingstream-submit-smoke",
                  shuffle_partitions=16)

from swingstream.config import SwingParams
from swingstream.fixtures import PagesSpec, gen_pages
from swingstream.pipeline import pages_pipeline
from swingstream.sources.pages import pages_from_pandas

pages = pages_from_pandas(
    spark, gen_pages(PagesSpec(n_hosts=3, n_buckets=20, base_docs_per_bucket=3))
)
params = SwingParams(window_width=6, step_size=1, min_lag=1, max_lag=2,
                     method="lasso", alpha=0.05)
out = pages_pipeline(pages, params, salted=True).collect()
conf = spark.sparkContext.getConf()
runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print("RESULT " + json.dumps({
    "rows": len(out), "cols": sorted(out[0].asDict().keys()),
    "daemon": conf.get("spark.python.daemon.module"),
    "worker_path": conf.get("spark.executorEnv.PYTHONPATH"),
    "default_java_options": conf.get("spark.driver.defaultJavaOptions", ""),
    "jvm_args": list(runtime.getRuntimeMXBean().getInputArguments())}))
"""


def test_spark_submit_py_files(tmp_path):
    pkg_dir = os.path.dirname(swingstream.__file__)
    zip_path = tmp_path / "swingstream.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "swingstream", os.path.relpath(full, pkg_dir)
                )
                z.write(full, rel)
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--driver-memory", "3g",
         "--py-files", str(zip_path), str(job)],
        capture_output=True, text=True, timeout=600, env=env, cwd=tmp_path,
    )
    result_lines = [ln for ln in proc.stdout.splitlines()
                    if ln.startswith("RESULT ")]
    assert result_lines, f"no RESULT line:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    import json

    res = json.loads(result_lines[0][len("RESULT "):])
    assert res["rows"] > 0
    assert {"parent", "child", "mean_rank"} <= set(res["cols"])
    # the workers came from the package's daemon, imported from the
    # shipped zip: the job runs in tmp_path, outside any checkout
    assert res["daemon"] == "swingstream.pydaemon"
    assert str(zip_path) in res["worker_path"].split(os.pathsep)
    # spark-submit started the JVM before get_spark ran: no class-data-
    # sharing archive, in the conf or in the JVM's own arguments
    for arg in [res["default_java_options"]] + res["jvm_args"]:
        assert "SharedArchiveFile" not in arg, arg
        assert "ArchiveClassesAtExit" not in arg, arg
