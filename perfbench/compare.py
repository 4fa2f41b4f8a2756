#!/usr/bin/env python3
"""Compare two result sets of the benchmark (parent, then change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the JSON files `run.py --save` (or `suite.py`)
writes, one per run: `<workload>-s<seed>-t<trace>.json`. Runs pair by
workload and seed. For every workload and end-to-end metric it prints
both sides' median and quartiles, the share of pairs the change won
(ties count for neither), the relative change of the medians and a
verdict:

* improved: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's own quartile spread;
* regressed: the change's median is worse by more than the metric's
  bound in BENCHMARK.json;
* unresolved: the parent's quartile spread is wider than the bound and
  not every change run beats every parent run;
* within bound: otherwise.

Per-layer metrics of the traced runs follow each workload's rows, as
medians and their relative change.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    out = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        with open(p) as fh:
            r = json.load(fh)
        out[(r["workload"], r["trace"], r["seed"])] = r
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(p, c, better, bound):
    q1, med_p, q3 = quartiles(p)
    med_c = statistics.median(c)
    pairs = list(zip(p, c))
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0) / len(pairs)
    worse = sign * (med_p - med_c) / abs(med_p) if med_p else 0.0
    spread = (q3 - q1) / abs(med_p) if med_p else 0.0
    if wins >= 0.9 and abs(med_c - med_p) > (q3 - q1) and sign * (med_c - med_p) > 0:
        v = "improved"
    elif worse > bound:
        v = "regressed"
    elif spread > bound and not all(sign * (b - a) > 0 for a in p for b in c):
        v = "unresolved"
    else:
        v = "within bound"
    return wins, worse, v


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    per_layer = {m["name"]: m for m in spec["per_layer"]}
    for w in [w["name"] for w in spec["workloads"]]:
        print(f"== {w}")
        for trace, metrics in ((0, spec["end_to_end"]), (1, per_layer.values())):
            seeds = sorted(s for (wl, t, s) in parent
                           if wl == w and t == trace and (wl, t, s) in change)
            if not seeds:
                continue
            for m in metrics:
                name = m["name"]
                p = [parent[(w, trace, s)]["metrics"][name]["value"] for s in seeds]
                c = [change[(w, trace, s)]["metrics"][name]["value"] for s in seeds]
                if trace == 0:
                    wins, worse, v = verdict(p, c, m["better"], m["bound"])
                    pq, cq = quartiles(p), quartiles(c)
                    print(f"  {name:16s} parent {fmt(pq[1])} [{fmt(pq[0])}, {fmt(pq[2])}]"
                          f"  change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}]"
                          f"  won {wins:.0%} of {len(seeds)}  worse {worse:+.1%}  {v}")
                else:
                    mp, mc = statistics.median(p), statistics.median(c)
                    rel = f"{(mc - mp) / abs(mp):+.1%}" if mp else "n/a"
                    print(f"    {name:26s} {fmt(mp):>10s} -> {fmt(mc):>10s}  {rel}")


if __name__ == "__main__":
    main()
