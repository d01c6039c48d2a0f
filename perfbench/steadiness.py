#!/usr/bin/env python3
"""Two-set steadiness check for the benchmark in BENCHMARK.json.

    python3 perfbench/steadiness.py

Runs every workload of BENCHMARK.json ten times per set, each run with its
own seed, for two sets, and records each result line in
perfbench/target/steadiness.jsonl. Then reports, per workload and end-to-end
metric, each set's median and quartiles, the spread (quartile distance over
the median) against the metric's bound, and whether the second set's median
is worse than the first set's by more than the bound. Exits 1 when a run
fails or is incorrect, or when a spread or the set-to-set change of any
metric exceeds its bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2
OUT = os.path.join(HERE, "target", "steadiness.jsonl")


def run_sets(bench):
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        for s in range(SETS):
            for w in [x["name"] for x in bench["workloads"]]:
                for r in range(RUNS):
                    seed = 1000 * (s + 1) + r
                    cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                       stderr=subprocess.DEVNULL, text=True)
                    lines = p.stdout.strip().splitlines()
                    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                    rec = {"set": s, "workload": w, "seed": seed, "exit": p.returncode, "result": result}
                    fh.write(json.dumps(rec) + "\n")
                    fh.flush()
                    print(f"set {s} {w} seed {seed}: exit {p.returncode}", file=sys.stderr)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def report(bench, records):
    ok = True
    metrics = bench["end_to_end"]
    for w in [x["name"] for x in bench["workloads"]]:
        recs = [r for r in records if r["workload"] == w]
        bad = [r for r in recs if r["result"] is None or not r["result"]["correct"]]
        print(f"\n{w}: {len(recs)} runs, {len(bad)} failed or incorrect")
        ok &= not bad
        sets = sorted({r["set"] for r in recs})
        print(f"  {'metric':20s} {'set':>3s} {'n':>3s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}  verdict")
        for m in metrics:
            first = None
            for s in sets:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in recs
                        if r["set"] == s and r["result"] is not None]
                if len(vals) < 2:
                    continue
                q1, med, q3, sp = spread(vals)
                verdict = []
                if sp > m["bound"]:
                    verdict.append("SPREAD>BOUND")
                    ok = False
                elif sp > m["bound"] / 3:
                    verdict.append("spread>bound/3")
                if first is None:
                    first = med
                else:
                    worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                    verdict.append(f"vs set 0: {worse:+.3f}")
                    if worse > m["bound"]:
                        verdict.append("WORSE>BOUND")
                        ok = False
                print(f"  {m['name']:20s} {s:3d} {len(vals):3d} {q1:12.4f} {med:12.4f} {q3:12.4f} "
                      f"{sp:7.3f} {m['bound']:6.2f}  {' '.join(verdict)}")
    return ok


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    run_sets(bench)
    with open(OUT) as fh:
        records = [json.loads(l) for l in fh if l.strip()]
    sys.exit(0 if report(bench, records) else 1)


if __name__ == "__main__":
    main()
