#!/usr/bin/env python3
"""graftbench: times one workload of registered graft queries end to end
and checks their outputs against the DuckDB oracle, in one command.

    python3 graftbench/run.py --workload graph-iter --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) into the checkout; later runs reuse
the build while the sources are unchanged. Everything the run writes stays
under `.bench_build/` in the checkout. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics for `--trace 0` and the per-layer metrics for `--trace 1`. See
graftbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import tracing  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, HERE, "data")
HARNESS = os.path.join(ROOT, HERE, "harness")
SHAPES = os.path.join(ROOT, HERE, "expected_shapes.json")
BUILD_INPUTS = ["build.sbt", "project/*.sbt", "project/*.properties", "src/main/**",
                f"{HERE}/harness/build.sbt", f"{HERE}/harness/project/*.properties",
                f"{HERE}/harness/src/**"]
CPUS = 4
TIME_LIMIT_S = 175  # the whole run, build excluded

# -XX:-UsePerfData: no hsperfdata file under /tmp, the run writes only in its checkout
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"] + [
    opt for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                  "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
    for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]

# End-to-end metrics (name -> unit) in the result line. query_tail_s,
# failed_frac and peak_rss_mb are printed above it but not gated: a run
# holds 9 to 15 timed executions, too few for a steady tail; failed_frac
# is 0 when the tree is correct; and under the fixed heap the VmHWM mostly
# shows the heap size, not the program (retained_mb follows the program).
END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "retained_mb": "MB"}
MB = 1 << 20


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for pattern in BUILD_INPUTS:
        for p in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled harness, building it when the sources changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest and all(map(os.path.exists, cached["classpath"].split(":"))):
            return cached["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts: temp files in the checkout, no hsperfdata
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS=" ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         f"-Djna.tmpdir={tmp}"]).strip())
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             "export harness/Runtime/fullClasspath"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def passes_for(workload, seconds, trace):
    """Timed passes: as many as fit --seconds at the workload's nominal pass
    time, at least two, and five when traced (the first, still warming the
    JIT, untraced, then untraced, traced, traced, untraced). The count
    depends only on the arguments, so every commit measured with the same
    arguments does the same work."""
    return max(5 if trace else 2, round(seconds / benchlib.WORKLOADS[workload]["pass_s"]))


def run_harness(classpath, workload, seed, passes, trace, out, deadline):
    spec = benchlib.WORKLOADS[workload]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                                  "-cp", classpath, "graftbench.Harness",
           "--data", DATA, "--out", out, "--seed", str(seed), "--passes", str(passes), "--trace", str(trace),
           "--tables", ",".join(spec["tables"]), "--queries", ",".join(benchlib.queries(workload))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "local"), TMPDIR=tmp)
    t_spawn = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=out)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the time limit, see {out}/jvm.log")
    if rc != 0:
        fail(f"harness exited {rc}, see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    result["spawn_s"] = t_spawn
    return result


def check_outputs(result, out):
    """{query: None | reason} for every query of the check pass."""
    import duckdb
    con = duckdb.connect()
    for t in benchlib.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    with open(SHAPES) as f:
        shapes = json.load(f)
    verdict = {}
    for c in result["check"]:
        name = c["query"]
        files = glob.glob(os.path.join(out, "check", name, "*.parquet"))
        if c["error"] is not None:
            verdict[name] = f"threw: {c['error']}"
        elif not files:
            verdict[name] = "no output"
        elif c["oracle"] is not None:
            try:
                verdict[name] = benchlib.compare_frames(
                    con.sql(f"SELECT * FROM '{files[0]}'").df(), con.sql(c["oracle"]).df())
            except Exception as e:  # oracle or read error counts as a mismatch
                verdict[name] = f"compare failed: {e}"
        else:
            got = {"columns": [list(r[:2]) for r in con.sql(f"DESCRIBE SELECT * FROM '{files[0]}'").fetchall()],
                   "rows": con.sql(f"SELECT count(*) FROM '{files[0]}'").fetchone()[0]}
            verdict[name] = None if got == shapes.get(name) else f"shape {got} != {shapes.get(name)}"
    # a no-oracle query passes only with its oracle-checked companion
    for c in result["check"]:
        if c["oracle"] is None and verdict[c["query"]] is None:
            comp = c["companion"]
            if comp is None or verdict.get(comp, "not run") is not None:
                verdict[c["query"]] = f"companion {comp} not passing"
    return verdict


def end_to_end(result, families):
    """End-to-end metric values, and notes for the summary lines."""
    # a query that threw counts with its time to failure, as in graft.Bench
    totals = [s["total_s"] for s in result["samples"]]
    family_p50 = benchlib.family_p50([(s["query"], s["total_s"]) for s in result["samples"]], families)
    check_s = sum(c["seconds"] for c in result["check"])
    values = {
        "setup_s": result["check_end_ms"] / 1000 - result["spawn_s"],
        "wall_s": statistics.median(result["pass_s"]),
        "query_p50_s": benchlib.query_p50(family_p50),
        "retained_mb": result["retained_bytes"] / MB,
        "peak_rss_mb": result["vm_hwm_kb"] / 1024,
    }
    note = {"setup_s": f"jvm {result['main_start_ms'] / 1000 - result['spawn_s']:.3f} + registry/session/tables "
                       f"{(result['setup_end_ms'] - result['main_start_ms']) / 1000:.3f} + check pass {check_s:.3f}",
            "query_p50_s": ", ".join(f"{f} {v:.3f}" for f, v in family_p50.items()),
            "peak_rss_mb": "not gated: the heap is fixed at 3 GB"}
    try:
        p, values["query_tail_s"] = benchlib.tail_percentile(totals)
        note["query_tail_s"] = f"p{p} of {len(totals)} samples"
    except ValueError:
        values["query_tail_s"] = float("nan")
        note["query_tail_s"] = f"undefined: {len(totals)} samples leave none 10 beyond"
    return values, note


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a spark-graft checkout")
    if not all(os.path.exists(f"{DATA}/{t}.parquet") for t in benchlib.TABLES):
        fail(f"benchmark tables missing under {DATA}")
    os.makedirs(BUILD, exist_ok=True)
    classpath = build()

    t_run = time.time()
    out = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    passes = passes_for(args.workload, args.seconds, args.trace)
    result = run_harness(classpath, args.workload, args.seed, passes, args.trace, out,
                         t_run + TIME_LIMIT_S - 15)
    verdict = check_outputs(result, out)
    failed_checks = [q for q, v in verdict.items() if v is not None]
    failed_runs = [s for s in result["samples"] if s["error"] is not None]
    attempted = len(result["samples"]) + len(verdict)
    failed = len(failed_runs) + len(failed_checks)

    for q in failed_checks:
        print(f"FAIL check {q}: {verdict[q]}")
    for s in failed_runs:
        print(f"FAIL pass {s['pass']} {s['query']}: {s['error']}")
    values, note = end_to_end(result, benchlib.WORKLOADS[args.workload]["families"])
    print(f"graftbench workload={args.workload} seed={args.seed} passes={passes} "
          f"trace={args.trace} checked={len(verdict)} build_s={t_run - t0:.1f}")
    for name, unit in dict(END_TO_END, peak_rss_mb="MB", query_tail_s="s").items():
        print(f"  {name:<14} {values[name]:12.4f} {unit:<5} {note.get(name, '')}")
    print(f"  {'failed_frac':<14} {failed / attempted:12.4f} {'1':<5} {failed} of {attempted}")
    # the raw record (samples, and with --trace 1 the spans and jobs) stays
    raw = os.path.join(BUILD, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(raw), exist_ok=True)
    with open(raw, "w") as f:
        json.dump(result, f)
    if args.trace:
        layers, loops = tracing.per_layer(result, CPUS)
        for name, (value, unit) in layers.items():
            print(f"  {name:<22} {value:14.4f} {unit}")
        for q, (jobs, rounds) in sorted(loops.items()):
            print(f"  loop {q}: {jobs} ops jobs, {rounds} rounds")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
