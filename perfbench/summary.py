#!/usr/bin/env python3
"""Runs the benchmark over a set of seeds and summarises the set: for each
workload and metric, the median, the quartiles and the spread (quartile
distance as a share of the median), next to the metric's bound from
BENCHMARK.json. This is how the benchmark is shown to be steady.

  python3 perfbench/summary.py --seeds 1-10 [--workload W ...] [--trace 0|1]
                               [--seconds S] [--out runs.jsonl]
  python3 perfbench/summary.py --from runs.jsonl [--from more.jsonl]

Each run's final JSON line is appended to --out (default
.bench_build/perfbench/runs.jsonl) as {"workload", "seed", "trace", "result"}.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workloads, seeds, seconds, trace, out):
    for w in workloads:
        for s in seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(seconds), "--trace", str(trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print("run failed: %s seed %d (exit %d)" % (w, s, p.returncode))
                continue
            rec = {"workload": w, "seed": s, "trace": trace, "wall_s": round(wall, 1),
                   "result": json.loads(lines[-1])}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"]
            print("%s seed %d: %.0f s, correct=%s %s" % (w, s, wall, rec["result"]["correct"], " ".join(
                "%s=%.4g" % (k, v["value"]) for k, v in sorted(m.items())[:8])), flush=True)


def summarise(paths):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    recs = []
    for p in paths:
        with open(p) as f:
            recs += [json.loads(line) for line in f if line.strip()]
    groups = {}
    for r in recs:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    worst = {}
    for (w, trace), rs in sorted(groups.items()):
        ok = sum(1 for r in rs if r["result"]["correct"])
        walls = [r["wall_s"] for r in rs if "wall_s" in r]
        print("%s (trace %d): %d runs, %d correct, seeds %s%s"
              % (w, trace, len(rs), ok, sorted(r["seed"] for r in rs),
                 ", mean run wall %.1f s" % statistics.mean(walls) if walls else ""))
        names = sorted({k for r in rs for k in r["result"]["metrics"]})
        for n in names:
            vals = [r["result"]["metrics"][n]["value"] for r in rs
                    if n in r["result"]["metrics"]]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = vals[0]
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(n) if not trace else None
            flag = ""
            if b is not None:
                flag = "  bound %.2f, spread/bound %.2f" % (b, spread / b)
                worst[(w, n)] = spread / b
            print("  %-44s median %12.5g  q1 %12.5g  q3 %12.5g  spread %6.3f%s"
                  % (n, med, q1, q3, spread, flag))
    if worst:
        (w, n), v = max(worst.items(), key=lambda kv: kv[1])
        print("largest spread/bound: %s %s %.2f (target < 0.33; setup_s is exempt)"
              % (w, n, v))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perfbench",
                                                  "runs.jsonl"))
    ap.add_argument("--from", dest="inputs", action="append")
    a = ap.parse_args()
    if a.inputs:
        summarise(a.inputs)
        return
    if not a.seeds:
        ap.error("--seeds or --from is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    run_set(workloads, seed_list(a.seeds), seconds, a.trace, a.out)
    summarise([a.out])


if __name__ == "__main__":
    main()
