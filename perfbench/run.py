#!/usr/bin/env python3
"""swingstream benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload swing_dense --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source checkout.  Everything the run writes goes
under ``.perfbench/`` in that checkout (fixture cache, Spark scratch,
stream checkpoints, traces).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics (medians over the run's iterations), with
``--trace 1`` the per-layer metrics of a traced run.  The line before
it carries sample counts, tail percentiles (once a metric has enough
samples), raw samples, the first operation's outputs beside the seed's
committed reference, output-check failures and host stamps.

The session runs at ``local[nproc]`` with the shuffle and state
partition count set to ``nproc``: at the session default of 64, each
call pays 64 state-store commit cycles per stateful operator and one
small pipeline call takes ~40 s on 4 cores, which leaves no room for
repeated samples.  Per-store costs stay visible in the traced run
(``q1.commit_ms_per_store``, ``q2.update_ms_per_task``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MIN_OPS = 3      # timed operations per run, whatever --seconds says


def metric_specs(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics BENCHMARK.json names:
    the run reports exactly these, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark forks import the package from it.

    Two deployment settings differ from the program's defaults:

    * the Spark local dir (shuffle, spill and state scratch), which the
      session puts on /dev/shm: the benchmark may write only inside its
      checkout, so the scratch shares the checkout's disk with the
      stream inputs, checkpoints and outputs;
    * the driver heap, 1g instead of 8g.  With 8g, G1 grows the heap as
      far as each run's GC timing takes it: peak PSS read 2.5-4.4 GB over
      five seeds of swing_dense (IQR/median 0.45), against 1.50-1.59 GB
      (0.03) at 1g, and the drained calls were no slower at 1g."""
    for d in ("tmp", "local", "cache", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SWINGSTREAM_LOCAL_DIR"] = os.path.join(WORK, "local")
    os.environ["SWINGSTREAM_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


T_START = time.time()


def log(msg: str) -> None:
    print(f"perfbench +{time.time() - T_START:6.1f}s {msg}", file=sys.stderr,
          flush=True)


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_stamp() -> dict:
    """nproc, load average and CPU counters at the start of the run.

    No CPU calibration burn: over 58 runs, BENCH/scaling.py's 4 s
    single-worker burn did not track which runs were slow (Spearman 0.14
    against docs_per_s), and a run has no 4 s to spare.  The hypervisor
    steal share over the run (``close_stamp``) did (-0.62)."""
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "cpu": cpu_times()}


def close_stamp(host: dict) -> None:
    """Load average at the end, and the share of CPU time the hypervisor
    gave to other guests (steal) over the run."""
    d = [b - a for a, b in zip(host.pop("cpu"), cpu_times())]
    host["loadavg_end"] = list(os.getloadavg())
    host["steal_share"] = d[7] / sum(d) if sum(d) else 0.0


def set_up(cores: int):
    """One cold session start, JVM launch included; returns (spark, ms)."""
    from swingstream.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                      shuffle_partitions=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    return spark, (time.perf_counter() - t0) * 1000.0


def shut_down(spark, listener) -> None:
    """Detach the listener once its bus has drained, stop the session,
    then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    if listener is not None:
        listener.drain()
        spark.streams.removeListener(listener)
        time.sleep(0.5)  # let the listener bus deliver the removal
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "swingstream", "__init__.py")):
        print(f"perfbench: no swingstream package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    configure_env()
    import workloads
    from probes import MemSampler, Tracer, make_listener

    if args.workload not in workloads.RECIPES:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.RECIPES)}", file=sys.stderr)
        return 2

    meta = workloads.fixture(os.path.join(WORK, "cache"), args.workload,
                             args.seed)
    meta["reference"] = workloads.reference(args.workload, args.seed)
    log("fixture ready")
    host = host_stamp()

    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = listener = None
    try:
        spark, start_ms = set_up(cores)
        log(f"session started: {start_ms:.0f} ms")
        listener = make_listener()
        spark.streams.addListener(listener)
        tracer = Tracer()
        with MemSampler() as mem:
            res = workloads.run(spark, listener, tracer, args.workload, meta,
                                run_dir, args.seconds, MIN_OPS,
                                bool(args.trace))
        log(f"timed loop done: warm {res['warm_s']:.2f}s {res['samples']}")
        attempted, failed, reasons = workloads.check(res, meta)
        log("checked")
        if args.trace:
            layers = workloads.layer_metrics(spark, res)
            layers["session.start_ms"] = start_ms
            layers["session.warmup_ms"] = res["warm_s"] * 1000.0
            tracer.dump(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            shut_down(spark, listener)
            log("stopped")
        shutil.rmtree(run_dir, ignore_errors=True)

    res["samples"]["peak_pss_mb"] = [mem.peak_mb(a, b)
                                     for a, b in res["op_spans"]]
    summary = workloads.end_to_end(res)
    # set-up = cold session start plus the warm-up operation
    summary["setup_s"] = {"n": 1,
                          "median": start_ms / 1000.0 + res["warm_s"]}
    close_stamp(host)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "samples": summary, "raw": res["samples"], "host": host,
                      "outputs": res["ops"][0],
                      "reference": meta["reference"],
                      "check_failures": reasons}))
    if args.trace:
        values = layers
    else:
        values = {k: s["median"] for k, s in summary.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in metric_specs("per_layer" if args.trace else
                                     "end_to_end")}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
