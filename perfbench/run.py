#!/usr/bin/env python3
"""Benchmark runner for pdfminer-six-spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: transcripts_extract, rich_kernel,
ops_queries (see BENCHMARK.json for why each was chosen).  With
--trace 0 the last line of stdout is one JSON object holding the end-to-end
metrics; with --trace 1 it holds the per-layer metrics.  The line before it
holds details for a human reader (payload mix, slot count, per-pass times and
the metrics under the names each workload uses).  The exit code is 0 only
when every correctness check passed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import process_age_s  # noqa: E402

T_PROCESS_START = time.perf_counter() - process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import signal  # noqa: E402

from perfbench.common import ROOT  # noqa: E402

WORKLOADS = ("transcripts_extract", "rich_kernel", "ops_queries")


def _per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    if not os.path.isdir(os.path.join(ROOT, "pdfminer_six_spark")):
        print(f"pdfminer_six_spark not found under {ROOT}", file=sys.stderr)
        return 2
    names = _per_layer_names()

    from perfbench import workloads
    from perfbench.common import (
        SETUP_REPEATS,
        Session,
        Setups,
        Workdir,
        at_ref,
        calibration_s,
        emit,
        finish_child,
        host_factor,
        median,
        metric,
        start_child,
    )

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    setups = Setups()
    work = Workdir()
    try:
        cals = []
        if args.workload == "rich_kernel":
            if args.trace:
                details, res = workloads.rich_trace(args.seed, args.seconds, names, setups)
            else:
                # calibrated before and after, see common.host_factor
                cals.append(calibration_s())
                details, res = workloads.rich_measure(args.seed, args.seconds, setups)
                cals.append(calibration_s())
        else:
            # the first cold set-up is this process's own, from its start
            session = Session(work)
            setups.add(T_PROCESS_START, session.t_built, session.t_ready)
            try:
                wl = workloads.SPARK_WORKLOADS[args.workload](session, work, args.seed)
                if args.trace:
                    details, res = wl.trace(names)
                else:
                    details, res = wl.measure(args.seconds)
            finally:
                session.stop()
            # the others each in a fresh process, after this one's JVM is gone
            for _ in range(SETUP_REPEATS - 1):
                t0, proc = start_child("spark_setup.py", [])
                out = finish_child(proc, 120)
                setups.add(t0, out["t_built"], out["t_ready"])
        details["setups_s"] = setups.setup_s
        if args.trace:
            res["metrics"]["session.build_s"] = metric(median(setups.build_s), "s")
            res["metrics"]["session.worker_warm_s"] = metric(median(setups.warm_s), "s")
        else:
            res["metrics"]["setup_s"] = metric(median(setups.setup_s), "s")
        if cals:
            # rich_kernel's figures at the reference host speed; raw in details
            factor = host_factor(*cals)
            details["host_calibration_s"] = cals
            details["host_factor"] = factor
            details["raw"] = res["metrics"]
            res["metrics"] = at_ref(res["metrics"], factor)
        emit(details, res)
    finally:
        work.close()
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
