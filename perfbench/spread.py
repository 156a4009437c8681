#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10                 # every workload
    python3 perfbench/spread.py --workload corpus_curation --seeds 1-5

Runs ``run.py`` once per (workload, seed), one run at a time, and prints
per metric the median and the quartile spread ``(q3 - q1) / median``
(``statistics.quantiles(values, n=4)``) next to the metric's bound in
BENCHMARK.json. A spread above a third of its bound is flagged.
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
sys.path.insert(0, HERE)

from harness import iqr_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    all_correct = True
    for w in workloads:
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            took = time.perf_counter() - t0
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {took:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            all_correct = all_correct and res["correct"]
        for k, vs in values.items():
            s = iqr_spread(vs) if len(vs) > 1 else 0.0
            flag = "" if k == "setup_s" or s < bounds[k] / 3 else "  <-- above bound/3"
            print(f"{w} {k}: median={statistics.median(vs):.4g} spread={s:.4f} "
                  f"bound={bounds[k]}{flag}")
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())
