"""Per-layer metrics of a traced run, from the driver's `trace.jsonl`.

Spans nest query -> build | action -> job -> stage -> task. Jobs carry
the job group `q<id>:<phase>` the driver set around each phase, stages
belong to the job that ran them, tasks to their stage. A layer's self
time is the time its spans cover that no deeper span covers, so the self
times of one query add up to its wall time plus whatever child span
time falls outside the query span. That excess, as a share of the
traced wall, must stay within SELF_SUM_TOLERANCE.

Counts and times are per query (means over the traced calls) unless the
unit says otherwise; `share.*` are shares of the traced calls' wall.
`staging.mb` (bytes graft staged during set-up) and `stream.*` (sums
over every streaming micro-batch of the run, set-up included, from the
StreamingQueryListener) are per run. `trace.overhead_frac` compares the
mean time of each query's traced calls with that of its untraced calls,
which the driver interleaves with them.
"""
import json
import os
import statistics
from collections import defaultdict

SELF_SUM_TOLERANCE = 0.05


def union(intervals):
    """Sorted, disjoint cover of `intervals` ([start, end] pairs)."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(cover):
    return sum(e - s for s, e in cover)


def overlap(span, cover):
    s0, e0 = span
    return sum(max(0.0, min(e, e0) - max(s, s0)) for s, e in cover)


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def per_layer(res, work, untraced):
    """(metrics {name: (value, unit)}, problems) of a traced run."""
    lines = load(os.path.join(work, "trace.jsonl"))
    queries = {l["q"]: l for l in lines if l["kind"] == "query"}
    n = max(len(queries), 1)
    jobs = {}
    for l in lines:
        if l["kind"] == "job_start":
            jobs[l["job"]] = {"start": l["t"], "end": l["t"], "group": l["group"],
                              "stages": l["stages"]}
    for l in lines:
        if l["kind"] == "job_end" and l["job"] in jobs:
            jobs[l["job"]]["end"] = l["t"]
    stages = {}
    for l in lines:
        if l["kind"] == "stage":
            stages.setdefault(l["stage"], []).append(l)
    tasks = defaultdict(list)
    for l in lines:
        if l["kind"] == "task":
            tasks[l["stage"]].append(l)

    # A stage runs under the first job listing it whose window holds it.
    stage_job = {}
    for jid in sorted(jobs, key=lambda j: jobs[j]["start"]):
        j = jobs[jid]
        for s in j["stages"]:
            for att in stages.get(s, []):
                if s not in stage_job and j["start"] - 1 <= att["start"] <= j["end"] + 1:
                    stage_job[s] = jid

    per_q = defaultdict(lambda: {"build": [], "action": []})
    for jid, j in jobs.items():
        g = j["group"]
        if g.startswith("q") and ":" in g:
            q, phase = g[1:].split(":", 1)
            if int(q) in queries:
                per_q[int(q)][phase].append(jid)

    tot = defaultdict(float)
    tot["untagged_jobs"] = sum(1 for j in jobs.values() if not j["group"].startswith("q"))
    excess = 0.0
    for q, span in queries.items():
        qjobs = per_q[q]["build"] + per_q[q]["action"]
        tot["build_jobs"] += len(per_q[q]["build"])
        tot["jobs"] += len(qjobs)
        J, S, T = [], [], []
        for jid in qjobs:
            j = jobs[jid]
            J.append([j["start"], j["end"]])
            ran = [s for s in j["stages"] if stage_job.get(s) == jid]
            tot["stages_skipped"] += len(j["stages"]) - len(ran)
            jt = []
            for s in ran:
                for att in stages[s]:
                    S.append([att["start"], att["end"]])
                    tot["stages"] += 1
                for t in tasks[s]:
                    jt.append([t["start"], t["end"]])
                    tot["tasks"] += 1
                    tot["tasks_failed"] += t["failed"]
                    for k in ("run_ms", "cpu_ns", "gc_ms", "in_bytes", "in_records",
                              "sh_read_bytes", "sh_fetch_wait_ms", "sh_write_bytes",
                              "spill_disk_bytes", "out_bytes"):
                        tot[k] += t.get(k, 0)
            T += jt
            tot["job_idle_ms"] += (j["end"] - j["start"]) - overlap(
                (j["start"], j["end"]), union(jt))
        d_task = union(T)
        d_stage = union(S + T)
        d_job = union(J + S + T)
        Q = [span["start"], span["end"]]
        B, A = [span["start"], span["built"]], [span["built"], span["end"]]
        d_all = union([Q] + J + S + T)
        tot["self_task"] += length(d_task)
        tot["self_stage"] += length(d_stage) - length(d_task)
        tot["self_job"] += length(d_job) - length(d_stage)
        tot["self_build"] += (B[1] - B[0]) - overlap(B, d_job)
        tot["self_action"] += (A[1] - A[0]) - overlap(A, d_job)
        tot["build_ms"] += B[1] - B[0]
        tot["action_ms"] += A[1] - A[0]
        tot["wall_ms"] += Q[1] - Q[0]
        excess += length(d_all) - (Q[1] - Q[0])

    for l in lines:
        if l["kind"] == "sql":
            for q, span in queries.items():
                if span["start"] <= l["t"] <= span["end"]:
                    for k in ("analysis", "optimization", "planning"):
                        tot[f"sql_{k}"] += l.get(f"{k}_ms", 0.0)
                    break

    stream = defaultdict(float)
    for l in lines:
        if l["kind"] == "stream_batch":
            stream["batches"] += 1
            stream["input_rows"] += l.get("input_rows", 0)
            for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                      "latestOffset"):
                stream[k] += l.get(f"{k}_ms", 0)

    traced = [c for c in res["calls"] if c["traced"]]
    writes = [(c["end"] - c["built"]) / 1000 for c in traced if c["out"] >= 0]
    traced_wall = sum(c["end"] - c["start"] for c in traced)

    def mean_by_name(calls):
        by = defaultdict(list)
        for c in calls:
            by[c["name"]].append(c["end"] - c["start"])
        return {k: statistics.mean(v) for k, v in by.items()}
    mu, mt = mean_by_name(untraced), mean_by_name(traced)
    shared = sorted(set(mu) & set(mt))
    overhead = (sum(mt[k] for k in shared) / sum(mu[k] for k in shared) - 1
                if shared else 0.0)
    tele = list(res["telemetry"].values())
    probes = res["probes"]
    MB = 1e6
    m = {
        "operators.build_s": (tot["build_ms"] / 1000 / n, "s/query"),
        "operators.build_jobs": (tot["build_jobs"] / n, "count/query"),
        "memo.fill_s": (res["memo_fill_s"], "s"),
        "memory.live_heap_mb": (res["live_heap_mb"], "MB"),
        "sql.analysis_ms": (tot["sql_analysis"] / n, "ms/query"),
        "sql.optimization_ms": (tot["sql_optimization"] / n, "ms/query"),
        "sql.planning_ms": (tot["sql_planning"] / n, "ms/query"),
        "exec.action_s": (tot["action_ms"] / 1000 / n, "s/query"),
        "scheduler.jobs": (tot["jobs"] / n, "count/query"),
        "scheduler.stages": (tot["stages"] / n, "count/query"),
        "scheduler.stages_skipped": (tot["stages_skipped"] / n, "count/query"),
        "scheduler.tasks": (tot["tasks"] / n, "count/query"),
        "scheduler.tasks_failed": (tot["tasks_failed"] / n, "count/query"),
        "scheduler.job_idle_ms": (tot["job_idle_ms"] / n, "ms/query"),
        "tasks.run_s": (tot["run_ms"] / 1000 / n, "s/query"),
        "tasks.cpu_s": (tot["cpu_ns"] / 1e9 / n, "s/query"),
        "tasks.gc_s": (tot["gc_ms"] / 1000 / n, "s/query"),
        "input.read_mb": (tot["in_bytes"] / MB / n, "MB/query"),
        "input.records": (tot["in_records"] / n, "count/query"),
        "shuffle.write_mb": (tot["sh_write_bytes"] / MB / n, "MB/query"),
        "shuffle.read_mb": (tot["sh_read_bytes"] / MB / n, "MB/query"),
        "shuffle.fetch_wait_ms": (tot["sh_fetch_wait_ms"] / n, "ms/query"),
        "spill.disk_mb": (tot["spill_disk_bytes"] / MB / n, "MB/query"),
        "output.write_mb": (tot["out_bytes"] / MB / n, "MB/query"),
        "output.write_s": (statistics.mean(writes) if writes else 0.0, "s/write"),
        "staging.mb": (res["staging_mb"], "MB"),
        "stream.batches": (stream["batches"], "count"),
        "stream.input_rows": (stream["input_rows"], "count"),
        "stream.add_batch_ms": (stream["addBatch"], "ms"),
        "stream.query_planning_ms": (stream["queryPlanning"], "ms"),
        "stream.wal_commit_ms": (stream["walCommit"], "ms"),
        "stream.commit_offsets_ms": (stream["commitOffsets"], "ms"),
        "stream.latest_offset_ms": (stream["latestOffset"], "ms"),
        "probe.scan_s": (probes.get("scan", 0.0), "s"),
        "probe.tokenize_s": (probes.get("tokenize", 0.0), "s"),
        "probe.mapreduce_s": (probes.get("mapreduce", 0.0), "s"),
        "plan.exchanges": (statistics.mean(t["exchanges"] for t in tele) if tele else 0.0,
                           "count/query"),
        "plan.skew_splits": (statistics.mean(t["skew_splits"] for t in tele) if tele else 0.0,
                             "count/query"),
        "codegen.fallbacks": (res["codegen_fallbacks"], "count"),
        "self.build_s": (tot["self_build"] / 1000 / n, "s/query"),
        "self.action_s": (tot["self_action"] / 1000 / n, "s/query"),
        "self.job_s": (tot["self_job"] / 1000 / n, "s/query"),
        "self.stage_s": (tot["self_stage"] / 1000 / n, "s/query"),
        "self.task_s": (tot["self_task"] / 1000 / n, "s/query"),
        "share.build": (tot["build_ms"] / traced_wall, "frac"),
        "share.sql": ((tot["sql_analysis"] + tot["sql_optimization"] +
                       tot["sql_planning"]) / traced_wall, "frac"),
        "share.tasks": (tot["self_task"] / traced_wall, "frac"),
        "share.job_idle": (tot["job_idle_ms"] / traced_wall, "frac"),
        "trace.queries": (len(queries), "count"),
        "trace.untagged_jobs": (tot["untagged_jobs"], "count"),
        "trace.self_sum_err": (excess / max(tot["wall_ms"], 1e-9), "frac"),
        "trace.overhead_frac": (overhead, "frac"),
    }
    problems = []
    if m["trace.self_sum_err"][0] > SELF_SUM_TOLERANCE:
        problems.append(f"self times exceed the traced wall by "
                        f"{m['trace.self_sum_err'][0]:.3f} (> {SELF_SUM_TOLERANCE})")
    return m, problems
