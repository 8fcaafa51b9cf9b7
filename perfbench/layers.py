"""Per-layer metrics of a traced run, from the harness's span record.

Spans nest run > pass > query > phase > job > stage > task. A query
execution has one id; its two phases are the job groups "<id>/build"
(the `SparkEntry.queries` call) and "<id>/exec" (the noop write), and
every job, stage, task and plan event carries its phase's group. A
span's self time is its length minus the part its child spans cover.

`per_layer` returns each metric as a per-pass value (summed over the
queries of a pass, median over passes; peaks and ratios say so) and,
per query, the same counters split by phase, median over passes.
`sources.stored_mb` is what the program left in the run's tmpdir once
the session stopped; `sources.write_amp` is output_mb per pass over it.
"""
import statistics
from collections import defaultdict

MB = 1e6

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "setup.session_s": "s", "setup.warmup_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_task_s": "s",
    "operators.build_self_s": "s",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.self_s": "s",
    "plans.planning_s": "s", "plans.nodes": "count", "plans.exchanges": "count",
    "plans.broadcasts": "count", "plans.scans": "count", "plans.codegen_stages": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_delay_s": "s", "spark.driver_gap_s": "s", "spark.job_self_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.core_util": "fraction",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB", "spark.peak_exec_mb": "MB", "spark.gc_s": "s",
    "spark.storage_peak_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.output_mb": "MB",
    "sources.output_rows": "count", "sources.stored_mb": "MB", "sources.write_amp": "ratio",
    "driver.result_mb": "MB",
    "trace.wall_s": "s",
}

# per-query counters compared by counter_diff.py
COUNTERS = ["jobs", "stages", "tasks", "exchanges", "broadcasts", "scans", "nodes",
            "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes", "output_rows",
            "input_bytes", "input_rows", "result_bytes"]


def covered(window, intervals):
    """Length of the part of `window` that the union of `intervals` covers."""
    lo, hi = window
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def phase_counters(window, jobs, stages, tasks, plans):
    """Counters and times of one phase of one query execution."""
    length = window[1] - window[0]
    job_iv = [(j["start"] / 1e3, j["end"] / 1e3) for j in jobs]
    stage_by_id = {s["id"]: s for s in stages}
    job_self = 0.0
    for j in jobs:
        iv = [(stage_by_id[i]["start"] / 1e3, stage_by_id[i]["end"] / 1e3)
              for i in j.get("stages", []) if i in stage_by_id]
        job_self += (j["end"] - j["start"]) / 1e3 - covered((j["start"] / 1e3, j["end"] / 1e3), iv)
    task_iv = [(t["launch"] / 1e3, t["finish"] / 1e3) for t in tasks]
    sched = 0.0
    for t in tasks:
        getting = t["finish"] - t["gettingResult"] if t["gettingResult"] > 0 else 0
        sched += max(0, (t["finish"] - t["launch"]) - t["run"] - t["deser"]
                     - t["resultSer"] - getting) / 1e3
    per_stage_peak = defaultdict(int)
    for t in tasks:
        per_stage_peak[t["stage"]] += t["peakExec"]
    return {
        "wall_s": length,
        "self_s": length - covered(window, job_iv),
        "job_self_s": job_self,
        "driver_gap_s": length - covered(window, task_iv),
        "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
        "task_run_s": sum(t["run"] for t in tasks) / 1e3,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "sched_delay_s": sched,
        "task_gc_s": sum(t["gc"] for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t["shWrite"] for t in tasks),
        "shuffle_read_bytes": sum(t["shRead"] for t in tasks),
        "fetch_wait_s": sum(t["fetchWait"] for t in tasks) / 1e3,
        "spill_bytes": sum(t["spillDisk"] for t in tasks),
        "peak_exec_bytes": max(per_stage_peak.values(), default=0),
        "input_bytes": sum(t["inBytes"] for t in tasks),
        "input_rows": sum(t["inRows"] for t in tasks),
        "output_bytes": sum(t["outBytes"] for t in tasks),
        "output_rows": sum(t["outRows"] for t in tasks),
        "result_bytes": sum(t["resultSize"] for t in tasks),
        "planning_s": sum(p["planning_ms"] for p in plans) / 1e3,
        "nodes": sum(p["nodes"] for p in plans),
        "exchanges": sum(p["exchanges"] for p in plans),
        "broadcasts": sum(p["broadcasts"] for p in plans),
        "scans": sum(p["scans"] for p in plans),
        "codegen_stages": sum(p["codegen"] for p in plans),
    }


def per_exec(loop):
    """Per query execution: its counters for each phase, keyed by exec id."""
    by_group = defaultdict(lambda: {"jobs": [], "stages": [], "tasks": [], "plans": []})
    for kind in ("jobs", "stages", "tasks", "plans"):
        for ev in loop[kind]:
            by_group[ev["group"]][kind].append(ev)
    out = {}
    for e in loop["execs"]:
        windows = {"build": (e["build_start"], e["exec_start"]),
                   "exec": (e["exec_start"], e["end"])}
        out[e["id"]] = {ph: phase_counters(w, **by_group[f"{e['id']}/{ph}"])
                        for ph, w in windows.items()}
    return out


def per_layer(loop, cores):
    execs = per_exec(loop)
    med = statistics.median
    passes = []
    for p in loop["passes"]:
        ids = [e["id"] for e in loop["execs"] if e["pass"] == p["pass"]]
        b = [execs[i]["build"] for i in ids]
        x = [execs[i]["exec"] for i in ids]
        both = b + x

        def tot(k, rows=both):
            return sum(r[k] for r in rows)
        passes.append({
            "operators.build_s": tot("wall_s", b), "operators.build_jobs": tot("jobs", b),
            "operators.build_task_s": tot("task_run_s", b), "operators.build_self_s": tot("self_s", b),
            "exec.exec_s": tot("wall_s", x), "exec.jobs": tot("jobs", x), "exec.self_s": tot("self_s", x),
            "plans.planning_s": tot("planning_s"), "plans.nodes": tot("nodes"),
            "plans.exchanges": tot("exchanges"), "plans.broadcasts": tot("broadcasts"),
            "plans.scans": tot("scans"), "plans.codegen_stages": tot("codegen_stages"),
            "spark.jobs": tot("jobs"), "spark.stages": tot("stages"), "spark.tasks": tot("tasks"),
            "spark.sched_delay_s": tot("sched_delay_s"), "spark.driver_gap_s": tot("driver_gap_s"),
            "spark.job_self_s": tot("job_self_s"),
            "spark.task_run_s": tot("task_run_s"), "spark.task_cpu_s": tot("task_cpu_s"),
            "spark.core_util": tot("task_run_s") / (p["wall_s"] * cores),
            "spark.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
            "spark.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
            "spark.fetch_wait_s": tot("fetch_wait_s"),
            "spark.spill_mb": tot("spill_bytes") / MB,
            "spark.peak_exec_mb": max((r["peak_exec_bytes"] for r in both), default=0) / MB,
            "spark.gc_s": p["gc_s"],
            "spark.storage_peak_mb": max((e["storage_bytes"] for e in loop["execs"]
                                          if e["pass"] == p["pass"]), default=0) / MB,
            "sources.input_mb": tot("input_bytes") / MB, "sources.input_rows": tot("input_rows"),
            "sources.output_mb": tot("output_bytes") / MB, "sources.output_rows": tot("output_rows"),
            "driver.result_mb": tot("result_bytes") / MB,
            "trace.wall_s": p["wall_s"],
        })
    values = {k: med([p[k] for p in passes]) for k in passes[0]}
    values["setup.session_s"] = loop["setup"]["session_s"]
    values["setup.warmup_s"] = loop["setup"]["warmup_s"]
    values["sources.stored_mb"] = loop["stored_bytes"] / MB
    values["sources.write_amp"] = (values["sources.output_mb"] / values["sources.stored_mb"]
                                   if loop["stored_bytes"] else 0.0)
    metrics = {k: (values[k], METRICS[k]) for k in METRICS}

    per_query = {}
    for q in loop["queries"]:
        runs = [execs[e["id"]] for e in loop["execs"] if e["query"] == q]
        per_query[q] = {ph: {k: med([r[ph][k] for r in runs]) for k in runs[0][ph]}
                        for ph in ("build", "exec")}
        per_query[q]["runs"] = [{ph: {k: r[ph][k] for k in COUNTERS} for ph in ("build", "exec")}
                                for r in runs]
    return metrics, per_query
