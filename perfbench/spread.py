"""Run one workload over several seeds and report each metric's median
and quartile spread (the distance between the first and third quartile
as a share of the median), the steadiness test a benchmark must pass.

    python3 perfbench/spread.py --workload pipelines --seeds 1 2 3 4 5

Run from the root of a checkout, like ``run.py``.
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


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        wall = time.perf_counter() - t0
        steal = next((ln.rsplit(" ", 1)[-1] for ln in lines if "CPU steal" in ln), "?")
        print(f"seed={seed} wall={wall:.1f}s steal={steal} correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        line = f"{k}: median={statistics.median(vs):.4g}"
        if len(vs) >= 2:
            line += f" spread={spread(vs):.4f}"
        if bounds.get(k):
            line += f" bound={bounds[k]} (steady below {bounds[k] / 3:.4f})"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
