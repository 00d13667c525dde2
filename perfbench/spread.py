"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload sql_adhoc ...] [--first-seed 1]

Runs the benchmark once per seed (one run at a time), then prints, per
workload and end-to-end metric, the median and the distance between the
first and third quartile as a share of the median, next to the metric's
bound in ``BENCHMARK.json``. The raw values go to
``.perfbench/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="default: every workload of BENCHMARK.json")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {}
    walls: dict[str, list[float]] = {}
    for w in workloads:
        values[w] = {m: [] for m in bounds}
        walls[w] = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            out = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            walls[w].append(time.time() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            line = json.loads(out.stdout.strip().splitlines()[-1])
            for m in bounds:
                values[w][m].append(line["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{m}={line['metrics'][m]['value']:.4g}" for m in bounds
            ) + f" correct={line['correct']} wall={walls[w][-1]:.1f}s", flush=True)
    print()
    for w in workloads:
        print(f"{w}: median run wall {median(walls[w]):.1f} s")
        for m, b in bounds.items():
            xs = values[w][m]
            print(f"  {m:10s} median {median(xs):10.4g}  spread {quartile_spread(xs):.3f}"
                  f"  bound {b}")
    path = os.path.join(ROOT, ".perfbench", f"spread-{int(time.time())}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"values": values, "walls": walls}, fh, indent=1)
    print(f"raw values: {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
