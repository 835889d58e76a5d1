#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and print, per
end-to-end metric, the median and the quartile spread as a share of the
median next to the metric's bound from ``BENCHMARK.json``.

    python3 perfbench/spread.py --workload near_dedup --seeds 1 2 3 4 5

Runs are sequential. A metric is steady when its spread stays below a
third of its bound; ``setup_s`` is exempt from the spread rule.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import iqr_share, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in args.seeds:
        r = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        walls.append(r["wall_s"])
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {r['wall_s']:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    print(f"wall per run: median {median(walls):.1f}s max {max(walls):.1f}s")
    for k, vals in values.items():
        spread = iqr_share(vals) if len(vals) > 1 and median(vals) else 0.0
        bound = bounds.get(k)
        flag = "" if bound is None or spread < bound / 3 else "  <-- wide"
        print(f"{k:24s} median {median(vals):12.6g}  spread {spread:.4f}"
              + (f"  bound {bound}" if bound is not None else "") + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
