#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread, as the benchmark's acceptance
check computes it: (Q3 - Q1) / median over the runs' values.

    python3 perfbench/spread.py --workload merge_bulk --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def steal_ticks() -> int:
    """Clock ticks the hypervisor gave to other guests (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range like 1-10, or one seed")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0, st0 = time.perf_counter(), steal_ticks()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        steal = (steal_ticks() - st0) / os.sysconf("SC_CLK_TCK") / walls[-1] / os.cpu_count()
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {walls[-1]:.1f}s steal {steal:.1%} correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = 0.0
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        bound = bounds.get(k)
        flag = "" if bound is None else f" bound {bound} {'OK' if spread < bound / 3 else 'WIDE'}"
        print(f"{k:40s} median {med:.5g} spread {spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
