"""Run workloads untraced over several seeds, one run at a time, and report
each end-to-end metric's median and spread (inter-quartile distance over median).

    python3 perfbench/spread.py --workloads spine_live spine_replay --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workloads spine_live --seeds 1 2 3 --sets 2

With ``--sets 2`` every seed runs twice in turn, set A with the seed and set
B with the seed + 1000 (A, B, A, B, ...), so that a slow spell of the
machine falls on both sets alike; the report then gives each set's median
and how far B's median is from A's, as a share of A's. The seconds default
to BENCHMARK.json's run_seconds. Every run's result line is appended to
--out (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SET_SEED_STEP = 1000


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: rc={proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), time.time() - t0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    # (workload, set) -> metric -> values
    values: dict[tuple[str, int], dict[str, list[float]]] = {}
    for seed in args.seeds:
        for s in range(args.sets):
            for w in args.workloads:
                run_seed = seed + s * SET_SEED_STEP
                res, wall = run_once(w, run_seed, args.seconds)
                print(f"{w} set {s} seed {run_seed} wall {wall:.1f}s correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps({"workload": w, "set": s, "seed": run_seed,
                                             "wall_s": wall, **res}) + "\n")
                for k, v in res["metrics"].items():
                    values.setdefault((w, s), {}).setdefault(k, []).append(v["value"])

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for (w, s), metrics in sorted(values.items()):
        for k, xs in metrics.items():
            med = statistics.median(xs)
            line = f"{w:14s} set {s} {k:24s} median {med:12.4f}"
            if len(xs) >= 2 and med != 0:
                line += f" spread {measure.spread(xs):.4f}"
            if s > 0:
                first = statistics.median(values[(w, 0)][k])
                line += f" vs set 0 {(med - first) / first:+.4f}"
            print(f"{line} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
