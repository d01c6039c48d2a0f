#!/usr/bin/env python3
"""Per-call-site job histogram of a Spark event log.

Reads one Spark event log (plain JSON lines, or `.zstd` compressed,
decompressed with the `zstd` binary) and prints three tables:

  1. jobs per root SQL execution, grouped by the execution's call site (the
     first `graft.` frame of its stack; `~` marks a caller's own frame when
     no `graft.` frame is on it);
  2. per stage: task count, the longest task (ms), the stage's wall (ms),
     call site and Spark's stage name (its short call site);
  3. per write: call site, `number of written files`, written bytes and the
     write's wall (ms).

Jobs outside any SQL execution are grouped by their first stage's call site.

Usage:
  python3 scripts/job_histogram.py <eventlog>

Produce a log by starting the JVM with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>
-Dspark.eventLog.rolling.enabled=false` (Spark 4 otherwise writes a rolling
log directory); add `-Dspark.eventLog.compress=true
-Dspark.eventLog.compression.codec=zstd` for a compressed one.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
WRITE_METRICS = ("number of written files", "written output")


def events(path):
    """Yield the log's events as dicts."""
    if path.endswith(".zstd"):
        p = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE, text=True)
        lines = p.stdout
    else:
        p = None
        lines = open(path)
    try:
        for line in lines:
            line = line.strip()
            if line:
                yield json.loads(line)
    finally:
        lines.close()
        if p is not None and p.wait() != 0:
            raise SystemExit(f"job_histogram: zstd failed on {path}")


LIBRARY_FRAMES = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def call_site(stack):
    """The first `graft.` frame of a stack string, without the file part;
    for code outside `graft` (a caller's own reads and writes), the first
    frame outside Spark and the JDK, marked with `~`."""
    frames = [f.strip().split("(")[0].replace("$", "") for f in (stack or "").splitlines()]
    for f in frames:
        if f.startswith("graft."):
            return f
    for f in frames:
        if f and not f.startswith(LIBRARY_FRAMES):
            return "~" + f
    return "<no caller frame>"


def plan_metrics(info, out):
    """accumulator id -> metric name, for the write metrics of a plan tree."""
    for m in info.get("metrics", []):
        if m.get("name") in WRITE_METRICS:
            out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        plan_metrics(child, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    a = ap.parse_args()

    root_of, site_of, exec_time = {}, {}, {}
    metric_names = collections.defaultdict(dict)  # execution -> accum id -> name
    driver_accums = collections.defaultdict(dict)  # execution -> accum id -> value
    job_exec, job_stages = {}, {}
    stage_site, stage_name, stage_tasks, stage_wall = {}, {}, {}, {}
    task_ms = collections.defaultdict(list)

    for e in events(a.log):
        kind = e.get("Event")
        if kind == SQL_START:
            x = e["executionId"]
            root_of[x] = e.get("rootExecutionId", x)
            site_of[x] = call_site(e.get("details"))
            exec_time[x] = [e.get("time"), None]
            plan_metrics(e.get("sparkPlanInfo", {}), metric_names[x])
        elif kind == SQL_AQE:
            plan_metrics(e.get("sparkPlanInfo", {}), metric_names[e["executionId"]])
        elif kind == SQL_END:
            if e["executionId"] in exec_time:
                exec_time[e["executionId"]][1] = e.get("time")
        elif kind == DRIVER_ACCUMS:
            for acc, value in e.get("accumUpdates", []):
                driver_accums[e["executionId"]][acc] = value
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            x = props.get("spark.sql.execution.id")
            job_exec[e["Job ID"]] = int(x) if x is not None else None
            job_stages[e["Job ID"]] = [s["Stage ID"] for s in e.get("Stage Infos", [])]
            for s in e.get("Stage Infos", []):
                stage_site.setdefault(s["Stage ID"], call_site(s.get("Details")))
                stage_name.setdefault(s["Stage ID"], s.get("Stage Name", ""))
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            stage_tasks[s["Stage ID"]] = s.get("Number of Tasks")
            if s.get("Submission Time") and s.get("Completion Time"):
                stage_wall[s["Stage ID"]] = s["Completion Time"] - s["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            t = e["Task Info"]
            task_ms[e["Stage ID"]].append(t["Finish Time"] - t["Launch Time"])

    def root_site(x):
        seen = set()
        while x in root_of and root_of[x] != x and x not in seen:
            seen.add(x)
            x = root_of[x]
        return site_of.get(x, "<unknown execution>")

    # the stages a job ran (skipped stages send no completion event)
    job_site = {}
    for j, x in job_exec.items():
        if x is not None:
            job_site[j] = root_site(x)
        else:
            first = job_stages[j][0] if job_stages[j] else None
            job_site[j] = stage_site.get(first, "<no stage>")
    stage_owner = {}
    for j, stages in job_stages.items():
        for s in stages:
            if s in stage_tasks:
                stage_owner.setdefault(s, job_site[j])

    print("== jobs per root call site")
    roots = collections.defaultdict(set)
    jobs = collections.Counter()
    for j, site in job_site.items():
        jobs[site] += 1
        x = job_exec[j]
        roots[site].add(root_of.get(x, x) if x is not None else ("job", j))
    print(f"{'execs':>6} {'jobs':>6} {'jobs/exec':>9}  call site")
    for site, n in jobs.most_common():
        print(f"{len(roots[site]):>6} {n:>6} {n / len(roots[site]):>9.2f}  {site}")

    print("\n== stages")
    print(f"{'stage':>6} {'tasks':>6} {'max task ms':>11} {'wall ms':>8}  call site  [stage name]")
    for s in sorted(stage_tasks):
        site = stage_owner.get(s, stage_site.get(s, "<no stage>"))
        longest = max(task_ms[s]) if task_ms[s] else 0
        print(f"{s:>6} {stage_tasks[s]:>6} {longest:>11} {stage_wall.get(s, 0):>8}  {site}"
              f"  [{stage_name.get(s, '')}]")

    print("\n== writes")
    print(f"{'exec':>6} {'files':>6} {'bytes':>10} {'wall ms':>8}  call site")
    for x in sorted(metric_names):
        names = metric_names[x]
        values = {names[acc]: v for acc, v in driver_accums.get(x, {}).items() if acc in names}
        if "number of written files" not in values:
            continue
        start, end = exec_time.get(x, [None, None])
        wall = end - start if start and end else 0
        print(f"{x:>6} {values['number of written files']:>6} "
              f"{values.get('written output', 0):>10} {wall:>8}  {root_site(x)}")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:
        # the reader (e.g. `| head`) closed the pipe: stop quietly, and point
        # stdout at /dev/null so the interpreter's final flush cannot fail
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(0)
