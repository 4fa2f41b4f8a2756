#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json, untraced and traced, once per
seed, saving each result for compare.py.

    python3 perfbench/suite.py --seeds 1,2,3 --out DIR
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    ok = True
    for seed in a.seeds.split(","):
        for w in spec["workloads"]:
            for trace in (0, 1):
                cmd = [sys.executable, os.path.join(HERE, "run.py"),
                       "--workload", w["name"], "--seed", seed,
                       "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
                       "--save", a.out]
                r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                last = (r.stdout.strip().splitlines() or ["{}"])[-1]
                print(f"{w['name']} seed {seed} trace {trace}: {last}", flush=True)
                ok = ok and r.returncode == 0 and json.loads(last).get("correct", False)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
