"""Per-layer metrics of one traced run (`run.py --trace 1`).

The harness runs the first pass untraced, then traces the middle two of
every four passes after it; the untraced passes run with the tracer's
listeners detached, so their wall time carries no tracing.
Every Spark job and final-plan record is attributed to the harness span it
started in (set-up table load, or a query's build / action / sweep);
counts are reported per traced pass.
"""
import bisect
import statistics

import benchlib

MB = 1 << 20

# name -> unit, in report order
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "ops.Graph.jobs": "count", "ops.Dedup.jobs": "count", "ops.jobs": "count",
    "pipelines.jobs": "count", "plans.jobs": "count", "queries.jobs": "count",
    "ops.iter_rounds": "count", "ops.jobs_per_round": "count",
    "tables.load_ms": "ms", "tables.load_jobs": "count",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "exec.action_s": "s", "exec.action_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_per_stage": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB",
    "spark.task_failures": "count", "spark.stage_retries": "count",
    "sessions.sweep_ms": "ms", "trace.overhead_s": "s",
}


def locate(spans, t_ms):
    """The span (from `spans`, sorted by start) that a record starting at
    t_ms falls in: the latest one started at or before it and not yet
    closed. None when it falls in no span."""
    i = bisect.bisect_right([s["start_ms"] for s in spans], t_ms) - 1
    if i >= 0 and t_ms <= spans[i]["end_ms"]:
        return spans[i]
    return None


def per_layer(result, cpus):
    """{metric: (value, unit)} for every PER_LAYER metric, plus the per-query
    loop breakdown as {query: (ops jobs, rounds)} for queries with rounds."""
    trace = result["trace"]
    phases = sorted((s for s in trace["spans"] if s["kind"] != "query"), key=lambda s: s["start_ms"])
    traced = sorted({int(s["qid"].split(":")[0]) for s in trace["spans"] if s["kind"] == "query"})
    n = len(traced)
    if n == 0:
        raise ValueError("no traced pass: --trace 1 needs at least five passes")

    sums = dict.fromkeys(PER_LAYER, 0.0)
    loops = {}  # qid -> [(site key, action)]
    for job in trace["jobs"]:
        span = locate(phases, job["start_ms"])
        if span is None:
            continue
        if span["kind"] == "tables.load":
            sums["tables.load_jobs"] += 1
            continue
        sums["spark.jobs"] += 1
        if span["kind"] == "build":
            sums["queries.build_jobs"] += 1
        elif span["kind"] == "action":
            sums["exec.action_jobs"] += 1
        module = benchlib.attribute(job["frames"], job["exec_frames"])
        group = benchlib.module_group(module)
        if group + ".jobs" in sums:
            sums[group + ".jobs"] += 1
        if module.startswith("ops."):
            sums["ops.jobs"] += 1
            action = ("sql", job["exec_id"]) if job["exec_id"] >= 0 else ("job", job["id"])
            loops.setdefault(span["qid"], []).append(
                (benchlib.site_key(job["frames"], job["exec_frames"]), action))
        sums["spark.stages"] += job["stages"]
        sums["spark.tasks"] += job["tasks"]
        sums["exec.task_run_s"] += job["run_ms"] / 1e3
        sums["exec.task_cpu_s"] += job["cpu_ns"] / 1e9
        sums["exec.gc_s"] += job["gc_ms"] / 1e3
        sums["shuffle.read_mb"] += job["shuffle_read"] / MB
        sums["shuffle.write_mb"] += job["shuffle_write"] / MB
        sums["shuffle.spill_mb"] += (job["spill"]) / MB
        sums["spark.task_failures"] += job["task_failures"]
        sums["spark.stage_retries"] += job["stage_retries"]

    rounds = {}
    for qid, jobs in loops.items():
        r, loop_jobs = benchlib.iter_rounds(jobs)
        if r:
            rounds[qid] = (len(jobs), r)
            sums["ops.iter_rounds"] += r
            sums["ops.jobs_per_round"] += loop_jobs  # divided by rounds below

    for s in phases:
        if s["kind"] == "tables.load":
            sums["tables.load_ms"] += s["seconds"] * 1e3
        elif s["kind"] == "build":
            sums["queries.build_s"] += s["seconds"]
        elif s["kind"] == "action":
            sums["exec.action_s"] += s["seconds"]
        elif s["kind"] == "sweep":
            sums["sessions.sweep_ms"] += s["seconds"] * 1e3

    # final-plan phases: the listener's plan records written while an action
    # ran; the analysis of the result itself ran in the builder, so it comes
    # from the result's own planning tracker (recorded per sample)
    actions = [s for s in phases if s["kind"] == "action"]
    for p in trace["plans"]:
        if p["planning"] is None or locate(actions, p["planning"]["start_ms"]) is None:
            continue
        for metric, phase in (("catalyst.optimize_ms", "optimization"),
                              ("catalyst.plan_ms", "planning")):
            if p[phase] is not None:
                sums[metric] += p[phase]["ms"]
    sums["catalyst.analyze_ms"] = sum(max(s["analysis_ms"], 0) for s in result["samples"]
                                      if s["traced"])

    per_pass = {k: v / n for k, v in sums.items()}
    per_pass["tables.load_ms"] = sums["tables.load_ms"]  # one traced set-up, not per pass
    per_pass["tables.load_jobs"] = sums["tables.load_jobs"]
    per_pass["ops.jobs_per_round"] = (sums["ops.jobs_per_round"] / sums["ops.iter_rounds"]
                                      if sums["ops.iter_rounds"] else 0.0)
    per_pass["spark.tasks_per_stage"] = (sums["spark.tasks"] / sums["spark.stages"]
                                         if sums["spark.stages"] else 0.0)
    walls = result["pass_s"]
    traced_wall = [walls[p] for p in traced]
    # pass 0 still warms the JIT: it would make the tracing look negative
    untraced_wall = [w for p, w in enumerate(walls) if p > 0 and p not in traced]
    per_pass["exec.core_util"] = sums["exec.task_run_s"] / (sum(traced_wall) * cpus)
    per_pass["trace.overhead_s"] = statistics.median(traced_wall) - statistics.median(untraced_wall)
    by_query = {qid.split(":", 1)[1]: v for qid, v in rounds.items()}
    return {k: (per_pass[k], u) for k, u in PER_LAYER.items()}, by_query
