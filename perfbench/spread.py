"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --runs 10 [--first-seed 1]
        [--workloads lake_curation stream_ingest]

Runs ``run.py`` once per seed (seeds ``first-seed .. first-seed+runs-1``)
for each workload, one run at a time, and prints for every metric its
median and its quartile spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. Also prints each run's wall time and the share of failed
operations. Run from the repository root.
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


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, wall = one_run(w, seed, bench["run_seconds"])
            runs.append((res, wall))
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
        walls = [r[1] for r in runs]
        print(f"{w}: wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s "
              f"sum {sum(walls):.0f}s")
        for name in runs[0][0]["metrics"]:
            med, sp = spread([r[0]["metrics"][name]["value"] for r in runs])
            bound = bounds.get(name)
            note = "" if bound is None else f" (bound {bound}, a third {bound / 3:.3f})"
            print(f"  {name:42s} median {med:12.4f}  spread {sp:.4f}{note}")
        shares = {r[0]["failed"] / r[0]["attempted"] for r in runs}
        print(f"  failed share per run: {sorted(shares)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
