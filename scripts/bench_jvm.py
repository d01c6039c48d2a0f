#!/usr/bin/env python3
"""Run one benchmark workload's JVM with extra JVM flags.

    python3 scripts/bench_jvm.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [-- <jvm flag>...]

Launches `perfbench.Main` as `perfbench/run.py` does (the classpath it
saves, its `JVM_OPTS` and `ADD_OPENS`) and adds the JVM flags given after
`--`, e.g. an event log for `scripts/job_histogram.py`

    -- -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \\
       -Dspark.eventLog.rolling.enabled=false

or a flight recording for `scripts/jfr_hotspots.py`

    -- -XX:StartFlightRecording=filename=run.jfr,settings=profile

Run from the repository root. `run.py`'s `build()` recompiles first when
the sources changed since the saved classpath was exported. The work area
is `run.py`'s (removed at the end; a traced run's spans stay in
`perfbench/target/traces/`). The run's output passes through; its last
stdout line is the run's JSON result. Exits with the JVM's exit code.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_run():
    """perfbench/run.py as a module, leaving no bytecode cache beside it."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run
    return run


def main():
    argv = sys.argv[1:]
    extra = argv[argv.index("--") + 1:] if "--" in argv else []
    own = argv[:argv.index("--")] if "--" in argv else argv
    run = load_run()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args(own)

    classpath = run.build()
    # run.py's work area, so a traced run leaves its spans in
    # perfbench/target/traces as a benchmark run does
    work = os.path.join(run.TARGET, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *run.JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(ROOT, 'perfbench', 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += extra
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work]
    try:
        code = subprocess.run(cmd, cwd=ROOT).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
