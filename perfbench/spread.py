"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 10 [--workloads audiencia servicio] [--log DIR]

Runs every workload of BENCHMARK.json once per seed (one run at a time,
from the checkout root) and prints, per workload and metric, the median
of the runs and the distance between the first and third quartiles as a
share of it (``statistics.quantiles(values, n=4)``), next to the
metric's bound, then what 4 + 22 × (number of workloads) runs cost at
the median run walls. Each run's last stdout line is kept in ``--log``
when given, with its standard error next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--log")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    bad = False
    walls: dict[str, list[float]] = {}
    for w in names:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, check=False)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            walls.setdefault(w, []).append(time.perf_counter() - t0)
            if args.log:
                os.makedirs(args.log, exist_ok=True)
                with open(os.path.join(args.log, f"{w}-{seed}.json"), "w") as fh:
                    fh.write(lines[-1] + "\n")
                with open(os.path.join(args.log, f"{w}-{seed}.log"), "w") as fh:
                    fh.write(p.stderr)
            print(f"{w} seed {seed}: {time.perf_counter() - t0:.0f} s wall, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
                  flush=True)
            bad |= not res["correct"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            print(f"  {w} {k}: median {med:.3f}  IQR/median {share:.3f}  bound {bounds.get(k)}")
    med = {w: statistics.median(v) for w, v in walls.items()}
    total = 22 * sum(med.values()) + 4 * max(med.values())
    print(f"run wall medians {({w: round(v, 1) for w, v in med.items()})}: "
          f"4 + 22 x {len(med)} runs take about {total:.0f} s")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
