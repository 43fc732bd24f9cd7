#!/usr/bin/env python3
"""Write ``reference.json``: the outputs one operation of each workload
produces for seeds 0 .. N-1, which every benchmark run must reproduce.

    python3 perfbench/make_reference.py --seeds 24

Run it from the root of a source checkout, on the commit whose outputs
the reference should pin, and again only for a change that is meant to
alter those outputs.  Each reference operation must itself pass the
run's other checks: contiguous batch ids, edges, and edges equal to the
batch twin.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import run


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, required=True)
    args = ap.parse_args()
    run.configure_env()
    import workloads
    from probes import make_listener

    params = workloads.swing_params()
    spark, _ = run.set_up(os.cpu_count() or 1)
    listener = make_listener()
    spark.streams.addListener(listener)
    ref: dict[str, dict] = {}
    try:
        for w in sorted(workloads.RECIPES):
            for seed in range(args.seeds):
                files = workloads.fixture(os.path.join(run.WORK, "cache"),
                                          w, seed)["files"]
                work = os.path.join(run.WORK, "runs", f"reference-{w}-{seed}")
                shutil.rmtree(work, ignore_errors=True)
                op = workloads.operation(spark, listener, files, work, params)
                out = op["out"]
                ok = (out["contiguous"] and out["edge_rows"] > 0
                      and workloads.batch_twin_matches(
                          spark, op["drain"]["features"],
                          op["drain"]["edges"], params))
                shutil.rmtree(work, ignore_errors=True)
                if not ok:
                    raise SystemExit(f"{w} seed {seed}: outputs fail the "
                                     f"checks, no reference written: {out}")
                ref.setdefault(w, {})[str(seed)] = {
                    k: out[k] for k in workloads.REFERENCE_KEYS}
                run.log(f"{w} seed {seed}: {ref[w][str(seed)]}")
    finally:
        run.shut_down(spark, listener)
    with open(workloads.REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
