#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload build --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, for the
``run_seconds`` BENCHMARK.json gives, and prints for
each metric its median and quartile spread ``(Q3 - Q1) / median`` beside
the bound in BENCHMARK.json. A benchmark is steady when every spread but
``setup_s``'s is below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.record import seed_range  # noqa: E402
from perfbench.stats import quartile_spread  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    values: dict = {}
    for seed in seed_range(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        last = json.loads(proc.stdout.splitlines()[-1])
        print(f"seed {seed}: correct={last['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
            flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        s = quartile_spread(vs)
        b = bounds.get(k)
        verdict = "" if b is None or k == "setup_s" else (
            "steady" if s < b / 3 else "WIDE")
        print(f"{k}: median={median(vs):.4g} spread={s:.4f} bound={b} "
              f"{verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
