#!/usr/bin/env python3
"""Attribute a JFR recording's execution samples to graft call sites and Spark phases.

    python3 scripts/jfr_hotspots.py <recording.jfr> --thread main [--start S] [--end S] [--top N]
    python3 scripts/jfr_hotspots.py <recording.jfr> --thread "Executor task launch"

Reads the `jdk.ExecutionSample` events of the threads whose name starts
with `--thread` (one name such as `main`, or a prefix such as
`Executor task launch`, which sums over every Spark task thread) through
`jfr print --json --stack-depth 300` (the default depth of 5 hides every
caller) and streams them, so a long recording needs little memory.
`--start`/`--end` bound the window: a number is seconds after the
recording's earliest sample, anything else an ISO-8601 UTC time such as
`2026-10-19T04:02:40.5Z`.

Each sample is attributed twice:
- to the first (innermost) frame of a `graft.` class, `(none)` without one;
- to a Spark phase, by its innermost frame that names one: ClosureCleaner,
  codegen, analyzer, optimizer or Hadoop conf; `other` when none does.

Prints the phase totals, then the call sites by sample count with their
phase split. Record with e.g.
`java -XX:StartFlightRecording=filename=run.jfr,settings=profile ...`;
`perfbench/run.py` fixes its JVM options, so to record a benchmark run,
launch `perfbench.Main` on the classpath it saves in
`perfbench/target/classpath.txt` with its options plus that flag.
`jfr summary run.jfr` counts other events, e.g. `jdk.ProcessStart` forks.
"""
import argparse
import datetime
import json
import os
import subprocess
import sys

# (phase, frame prefixes) in match order; a frame is "class.method"
PHASES = [
    ("ClosureCleaner", ("org.apache.spark.util.ClosureCleaner",
                        "org.apache.spark.util.SparkClosureCleaner")),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("analyzer", ("org.apache.spark.sql.catalyst.analysis.",
                  "org.apache.spark.sql.execution.QueryExecution.assertAnalyzed",
                  "org.apache.spark.sql.execution.QueryExecution.analyzed")),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer",
                   "org.apache.spark.sql.execution.QueryExecution.optimizedPlan")),
    ("Hadoop conf", ("org.apache.hadoop.conf.Configuration",
                     "org.apache.spark.sql.internal.SessionState.newHadoopConf",
                     "org.apache.spark.util.SerializableConfiguration")),
]
PHASE_NAMES = [p for p, _ in PHASES] + ["other"]


def parse_time(s):
    """ISO-8601 UTC with up to nanosecond digits -> aware datetime."""
    s = s.rstrip("Z")
    if "." in s:
        head, frac = s.split(".", 1)
        s = f"{head}.{frac[:6]}"
    return datetime.datetime.fromisoformat(s).replace(tzinfo=datetime.timezone.utc)


def events(path):
    """Yield the recording's execution-sample events one at a time."""
    p = subprocess.Popen(["jfr", "print", "--json", "--stack-depth", "300",
                          "--events", "jdk.ExecutionSample", path],
                         stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf, pos, started = "", 0, False
    while True:
        chunk = p.stdout.read(1 << 20)
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            i = buf.find('"events"')
            if i < 0:
                if not chunk:
                    break
                continue
            pos = buf.index("[", i) + 1
            started = True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf) and buf[pos] == "]":
                p.stdout.close()
                p.wait()
                return
            try:
                ev, end = dec.raw_decode(buf, pos)
            except ValueError:
                break
            pos = end
            yield ev
        if not chunk:
            break
    p.wait()
    if p.returncode:
        raise SystemExit(f"jfr print failed with exit code {p.returncode}")


def frame_name(f):
    m = f["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def phase_of(frames):
    for f in frames:
        for phase, prefixes in PHASES:
            if f.startswith(prefixes):
                return phase
    return "other"


def site_of(frames):
    return next((f for f in frames if f.startswith("graft.")), "(none)")


def bound(arg, first):
    if arg is None:
        return None
    try:
        return first + datetime.timedelta(seconds=float(arg))
    except ValueError:
        return parse_time(arg)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", required=True,
                    help="Java thread name or name prefix, e.g. main or 'Executor task launch'")
    ap.add_argument("--start", help="window start: seconds after the earliest sample, or an ISO time")
    ap.add_argument("--end", help="window end: seconds after the earliest sample, or an ISO time")
    ap.add_argument("--top", type=int, default=25, help="call sites to print")
    a = ap.parse_args()

    # JFR prints events per chunk and thread buffer, not in time order:
    # classify every sample of the matching threads, then apply the window
    first, samples = None, []
    for ev in events(a.recording):
        v = ev["values"]
        t = parse_time(v["startTime"])
        first = t if first is None else min(first, t)
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if not thread.startswith(a.thread):
            continue
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        samples.append((t, thread, phase_of(frames), site_of(frames)))
    start, end = bound(a.start, first), bound(a.end, first)
    phases = {p: 0 for p in PHASE_NAMES}
    sites = {}
    n, threads = 0, set()
    for t, thread, phase, site in samples:
        if (start and t < start) or (end and t > end):
            continue
        sites.setdefault(site, {p: 0 for p in PHASE_NAMES})[phase] += 1
        phases[phase] += 1
        threads.add(thread)
        n += 1
    if n == 0:
        raise SystemExit(f"no execution samples of a thread named {a.thread!r}… in the window")

    print(f"{n} samples of {len(threads)} thread(s) named {a.thread!r}…")
    print(f"{'phase':<16}{'samples':>9}{'share':>8}")
    for p in PHASE_NAMES:
        print(f"{p:<16}{phases[p]:>9}{phases[p] / n:>8.1%}")
    print()
    width = max(len(s) for s in sites) + 2
    print(f"{'first graft. frame':<{width}}{'samples':>9}{'share':>8}"
          + "".join(f"{p:>16}" for p in PHASE_NAMES))
    for s, by in sorted(sites.items(), key=lambda kv: -sum(kv[1].values()))[:a.top]:
        total = sum(by.values())
        print(f"{s:<{width}}{total:>9}{total / n:>8.1%}"
              + "".join(f"{by[p]:>16}" for p in PHASE_NAMES))


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:
        # the reader (e.g. `| head`) closed the pipe: stop quietly, and point
        # stdout at /dev/null so the interpreter's final flush cannot fail
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(0)
