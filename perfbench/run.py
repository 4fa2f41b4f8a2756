#!/usr/bin/env python3
"""graft benchmark: one command, several workloads, closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the driver from source (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs one driver JVM (one
client thread issuing queries back to back against `local[cores]`),
checks every result against a DuckDB reference (`reference.py`) and
prints, as its last stdout line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced
run (see `layers.py`). Everything it writes stays under `.bench_build/`
of the current directory.
"""
import argparse
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from reference import (CORPUS_WORDCOUNT_SQL, Reference, digest,  # noqa: E402
                       read_result, result_rows, self_check)

REGISTRY_MIX_FILE = os.path.join(HERE, "registry_mix.txt")
WORKLOADS = {
    # Data-bound: the reference's own jobs over a generated corpus.
    "corpus_wordcount": {"input": "corpus", "queries": [
        "wc_wordcount", "wc_wordcount_text", "wc_grep"]},
    # Fixed-cost bound: short registry rows over the sf0.1 copy.
    "registry_mix": {"input": "tables", "queries": None},
}
CORES = min(4, os.cpu_count() or 1)
RUN_BUDGET_S = 175
CHECK_RESERVE_S = 25
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def registry_mix():
    with open(REGISTRY_MIX_FILE) as fh:
        return [l.split("#")[0].strip() for l in fh if l.split("#")[0].strip()]


def heap_mb():
    """An eighth of physical memory, at least 1 GiB and at most 2 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        total = 8192
    return max(1024, min(2048, total // 8))


def run_driver(classpath, args, work, heap, timeout):
    # The whole heap is committed and touched up front, so the resident
    # set does not depend on when the collector chose to grow the heap.
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "org.apache.spark.sql.graftbench.Driver"] + args)
    with open(os.path.join(work, "driver.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"driver JVM exceeded {timeout:.0f} s; see {work}/driver.log")
    if rc != 0:
        with open(os.path.join(work, "driver.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"driver JVM failed (exit {rc})")


def check(res, wl, manifest, inputs, work, ref):
    """Per-query verdicts: (bad query names, problems, self-check ok)."""
    key = manifest["sha256"]
    bad, problems, selfcheck = set(), [], None
    expect = {}
    for name in sorted({c["name"] for c in res["calls"]}):
        if wl["input"] == "corpus" and name in ("wc_wordcount", "wc_wordcount_text"):
            sql = CORPUS_WORDCOUNT_SQL.format(text=os.path.join(inputs, "text"))
        elif name in res["oracle_sql"]:
            sql = res["oracle_sql"][name]
        else:
            bad.add(name)
            problems.append(f"{name}: no reference")
            continue
        expect[name] = ref.get(key, sql, **{wl["input"]: inputs})
    for name, err in res["setup_errors"].items():
        bad.add(name)
        problems.append(f"{name}: {err[:200]}")
    # Full-content check: the set-up call's result of count-queries, the
    # last timed call's files of write-queries (row counts of all below).
    last_out = {c["name"]: c["out"] for c in res["calls"] if c["out"] >= 0}
    for name, (rows, want) in expect.items():
        p = os.path.join(work, "verify", name)
        if name in last_out:
            p = os.path.join(work, "out", name, str(last_out[name]))
        try:
            df = read_result(p)
        except (OSError, ValueError) as e:
            bad.add(name)
            problems.append(f"{name}: unreadable result {p}: {e}")
            continue
        if digest(df) != want:
            bad.add(name)
            problems.append(f"{name}: result digest differs from reference "
                            f"({len(df)} rows, reference {rows})")
        elif selfcheck is None:
            selfcheck = self_check(df, want)
    for c in res["calls"]:
        rows = expect.get(c["name"], (None,))[0]
        if c["rows"] < 0 and not c["error"]:
            c["rows"] = result_rows(os.path.join(work, "out", c["name"], str(c["out"])))
        c["ok"] = not c["error"] and c["name"] not in bad and c["rows"] == rows
    return bad, problems, selfcheck


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="also write the result JSON into this "
                    "directory (the input of compare.py)")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    root = os.path.abspath(".bench_build")
    t_start = time.time()

    classpath = build.build(os.path.join(root, "classes"))
    log(f"built in {time.time() - t_start:.1f} s")
    # The run after the build must end within RUN_BUDGET_S.
    deadline = time.time() + RUN_BUDGET_S

    if wl["input"] == "tables":
        inputs = os.path.join(root, "inputs", "tables")
        manifest = gen.ensure("tables", None, inputs)
    else:
        inputs = os.path.join(root, "inputs", f"corpus-{a.seed}")
        # Keep one corpus on disk, however many seeds have run.
        for old in glob.glob(os.path.join(root, "inputs", "corpus-*")):
            if old != inputs:
                shutil.rmtree(old, ignore_errors=True)
        manifest = gen.ensure("corpus", a.seed, inputs, mb=gen.CORPUS_MB)
    log(f"inputs ready at {time.time() - t_start:.1f} s")
    log(f"inputs {inputs}: {manifest['bytes']} bytes, rows {manifest['rows']}, "
        f"vocabulary {manifest['vocabulary']}, sha256 {manifest['sha256'][:16]}")

    queries = wl["queries"] or registry_mix()
    order = list(queries)
    random.Random(a.seed).shuffle(order)

    work = os.path.join(root, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = heap_mb()
    run_driver(classpath, [
        "--workload", a.workload,
        "--tables", inputs if wl["input"] == "tables" else "",
        "--corpus", inputs if wl["input"] == "corpus" else "",
        "--order", ",".join(order), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(CORES), "--work", work,
        "--out", os.path.join(work, "result.json")], work, heap,
        timeout=max(deadline - time.time() - CHECK_RESERVE_S, 30))
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    log(f"driver done at {time.time() - t_start:.1f} s")

    ref = Reference(os.path.join(root, "reference"), CORES)
    bad, problems, selfcheck = check(res, wl, manifest, inputs, work, ref)
    log(f"checked at {time.time() - t_start:.1f} s")
    if not selfcheck:
        problems.append("self-check: a corrupted result was not detected")

    untraced = [c for c in res["calls"] if not c["traced"]]
    lat = [(c["end"] - c["start"]) / 1000 for c in untraced]
    # The driver times whole rounds (every query once, in `order`).
    round_s = res["rounds_s"]
    timed = untraced if a.trace == 0 else [c for c in res["calls"] if c["traced"]]
    attempted = len(timed)
    failed = sum(1 for c in timed if not c["ok"])
    mb = (manifest["text_bytes"] if wl["input"] == "corpus" else manifest["bytes"]) / 1e6
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(round_s), "s"),
        "queries_per_s": (len(order) / statistics.median(round_s), "1/s"),
        "mb_per_s": (mb * len(order) / statistics.median(round_s), "MB/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    if a.trace == 0:
        metrics = e2e
    else:
        metrics, trace_problems = layers.per_layer(res, work, untraced)
        problems += trace_problems
    config = dict(res["config"], seed=a.seed, workload=a.workload,
                  queries=len(queries))
    log(f"config {json.dumps(config)}")
    log(f"setup_s {res['setup_s']:.3f}; "
        f"failed_frac {failed / max(attempted, 1):.4f} ({failed}/{attempted}); "
        f"untraced samples {len(lat)}; rounds of "
        f"{[round(r, 3) for r in round_s]} s")
    for p in problems:
        log(f"PROBLEM {p}")
    for k, (v, u) in metrics.items():
        log(f"{k:28s} {v:14.6f} {u}")
    for d in ("out", "verify", "warm", "staging", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    log(f"done in {time.time() - t_start:.1f} s")
    out = {
        "correct": not problems and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        name = f"{a.workload}-s{a.seed}-t{a.trace}.json"
        with open(os.path.join(a.save, name), "w") as fh:
            json.dump(dict(out, workload=a.workload, seed=a.seed, trace=a.trace,
                           config=config), fh)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
