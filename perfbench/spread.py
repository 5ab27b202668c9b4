"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads read write --seeds 1 2 3 4 5

Runs the benchmark once per (workload, seed), one run at a time, and prints
for each end-to-end metric its median and the distance between the first
and third quartile as a share of the median (``statistics.quantiles`` with
n=4), next to the metric's bound in BENCHMARK.json, and the wall time of
the runs.  ``--log FILE`` appends every run's result line to FILE.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--log")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if args.log:
                with open(args.log, "a") as f:
                    notes = [ln for ln in out.stderr.splitlines() if ln.startswith("perfbench:")]
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                        **res, "notes": notes}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} failed")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(k)
            if bound is not None and k != "setup_s":
                worst = max(worst, spread / bound)
            flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
            print(f"{w:12s} {k:28s} median {med:12.5g}  spread {spread:7.4f}  bound {bound}{flag}")
        print(f"{w:12s} run wall s: median {statistics.median(walls):.1f}, max {max(walls):.1f}")
    print(f"worst spread/bound (setup_s excluded): {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
