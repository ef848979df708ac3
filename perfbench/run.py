"""Benchmark for the KML → spatial join → NDVI engine.

    python3 perfbench/run.py --workload ndvi_change --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed under ``.perfbench_work/``, sets the engine up once at local[nproc]
(cold, as a submitted job does: ``setup_s``), and runs a first pass whose
outputs are checked against the oracles. Then it runs timed passes back
to back until ``--seconds`` have passed and at least two have run, each
compared with the first; ``job_s`` and ``cpu_s`` are their medians.
Nothing may stay cached between passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs traced
passes, a plain pass and probes instead of the timed passes, and prints
the per-layer metrics (see README.md). The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "azure_workflow_for_kml_satellite_spark" / "__init__.py"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ENGINE.exists():
        print(f"engine package not found next to perfbench/ ({ENGINE})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import report, session, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    cache = base / "cache"
    work = base / f"run-{args.workload}-{os.getpid()}"
    for old in base.glob("run-*"):
        shutil.rmtree(old, ignore_errors=True)
    work.mkdir(parents=True)
    session.prepare_env(work, cache, bool(args.trace))
    cores = len(os.sched_getaffinity(0))

    # inputs and oracle answers first, so set-up and passes run alone
    phases = {}
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    phases["inputs_s"] = time.perf_counter() - t0
    spark, setup_s = session.setup_session(cores)
    wl.spark = spark
    try:
        res = report.run(spark, wl, args, work)
    finally:
        app_id = spark.sparkContext.applicationId
        t1 = time.perf_counter()
        session.stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t1
    res["setup_s"] = setup_s
    res["phases"] = phases | res["phases"]
    if args.trace:
        report.add_trace_metrics(res, work / "events", app_id, cores)
        # spans and layer numbers outlive the run's work directory
        res["tracer"].dump(base / f"trace-{args.workload}-{args.seed}.json", res["layer_metrics"])
    report.emit(res, args)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
