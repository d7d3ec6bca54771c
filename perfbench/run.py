"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload spine_replay --seed 1 --seconds 30 --trace 0

Run it from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones, and the spans go to .perfbench_run/<run>.trace.json. Every
run gets its own directory, .perfbench_run/<run>/, for temp files, Spark local
dirs, checkpoints and sinks, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("spine_live", "spine_replay")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "futures_eos_cdc_spark", "__init__.py")):
        print(f"no futures_eos_cdc_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Isolation: nothing this run writes lands outside its own directory,
    # so no earlier run's temp tables or checkpoints can warm this one.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # The JVM that spark-submit starts to build its command would otherwise
    # write a perf-data file under /tmp (the driver JVM gets the same flag).
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)

    import spine
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    try:
        res = spine.run(args.workload, args.seed, args.seconds, tracer, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if tracer.enabled:
        tracer.dump(run_dir + ".trace.json")

    section = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps(res["detail"]), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in section.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
