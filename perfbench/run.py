#!/usr/bin/env python3
"""Ingest-first benchmark of the Spark lake engine.

One run drives one workload through the program's public entry points in
a single JVM on `local[4]`, checks the program's outputs, and prints one
JSON line last:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (inputs generated from --seed, cached per seed under
.bench_build/perfbench/data):
  ingest_bulk  batch `Pipeline.ingest` drains of a JSON-lines backlog
  lake_serve   a serving session on a table whose commit log is pre-aged:
               rounds of land a file, stream-drain it, read, pruned read;
               compact + expire; then one pass over a battery query mix

`--workload all` runs both in turn and prints the named end-to-end metrics
of each. With --trace 1 the run also records spans and per-layer
counters and writes them to .bench_build/perfbench/trace/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_events  # noqa: E402

WORKLOADS = ["ingest_bulk", "lake_serve"]
CORES = 4
TIME_LIMIT_S = 170

# input sizes (see README.md for why each was chosen)
BULK = dict(files=8, rows=12000, days=1)
SERVE = dict(rounds=3, rows=2000, days=7, maintain_after="2,3")
AGED_SNAPSHOTS = 1000
SF = 0.01
# Timed work per run: units = max(minimum, round(seconds / nominal unit
# seconds)), so a run does the same work however fast the program is.
UNITS = {"ingest_bulk": (4, 2.5), "lake_serve": (1, 20.0)}
BULK_WARM_DRAINS = 4  # untimed full-size drains before the timed ones
MIX_ROWS = ["q_gopher_rules", "q_minhash_recall", "q_sql_q5", "stream_tumbling_e2e"]

E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB")]
NAMED = {
    "ingest_bulk": [("bulk_rows_per_s", "1/s"), ("bulk_mb_per_s", "MB/s"),
                    ("stored_bytes_ratio", "ratio")],
    "lake_serve": [("freshness_p50_s", "s"), ("read_p50_s", "s"),
                   ("pruned_read_p50_s", "s"), ("maintain_s", "s"), ("mix_wall_s", "s"),
                   ("stored_bytes_ratio", "ratio")],
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def java_cmd(classes, work, main, args, heap="2500m"):
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + ":" + os.path.join(build.SPARK_JARS, "*")
    # a fixed heap keeps GC sizing, and so timings and RSS, alike across runs
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp]
            + opens + ["-cp", cp, main] + list(args))


def run_java(cmd, log_path, deadline):
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("JVM exceeded the run's time limit; log: %s" % log_path)
        finally:  # also on SIGTERM/SIGINT: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()


def seed_data(seed, workload):
    """Generate (once per seed) the inputs a workload reads."""
    d = os.path.join(BUILD, "data", "seed-%d" % seed)
    parts = {"ingest_bulk": ["bulk", "warm"], "lake_serve": ["serve", "warm", "sf"]}[workload]
    for part in parts:
        target = os.path.join(d, part)
        if os.path.isdir(target):
            continue
        tmp = target + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if part == "bulk":
            gen_events.generate(tmp, seed, BULK["files"], BULK["rows"], BULK["days"])
        elif part == "warm":
            # the set-up cycles' warm-up input: one small file, few partitions
            gen_events.generate(tmp, seed + 7, 1, 6000, 1, first_id=10 ** 9, prefix="warm",
                                categories=["web"], users=4)
        elif part == "serve":
            gen_events.generate(tmp, seed + 1000003, SERVE["rounds"],
                                SERVE["rounds"] * SERVE["rows"], SERVE["days"],
                                first_id=1000000, prefix="round")
        else:
            r = subprocess.run([sys.executable, os.path.join(HERE, "gen_sf.py"), str(SF), tmp,
                                "--seed=%d" % seed], stdout=subprocess.DEVNULL)
            if r.returncode != 0:
                raise RuntimeError("gen_sf.py failed")
        os.rename(tmp, target)
    return d


def aged_table(classes, deadline):
    """The pre-aged commit log, built once per build with the program's own
    GraftLog.commit; every run copies it."""
    d = os.path.join(BUILD, "aged-%d-%s" % (AGED_SNAPSHOTS, os.path.basename(classes)))
    if os.path.isdir(d):
        return d
    for old in os.listdir(BUILD):
        if old.startswith("aged-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = d + ".tmp"
    work = os.path.join(BUILD, "work", "agelog")
    cmd = java_cmd(classes, work, "perfbench.AgeLog", [tmp, str(AGED_SNAPSHOTS)], heap="1g")
    if run_java(cmd, os.path.join(BUILD, "logs", "agelog.log"), deadline) != 0:
        raise RuntimeError("AgeLog failed")
    shutil.rmtree(work, ignore_errors=True)
    os.rename(tmp, d)
    return d


def run_one(workload, seed, seconds, trace, t_start):
    deadline = t_start + TIME_LIMIT_S
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    classes = build.build()
    data = seed_data(seed, workload)
    aged = aged_table(classes, deadline) if workload == "lake_serve" else ""
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    least, nominal = UNITS[workload]
    units = max(least, int(round(seconds / nominal)))
    jargs = ["workload=" + workload, "units=%d" % units, "trace=%d" % trace,
             "work=" + work, "data=" + data, "out=" + out, "cores=%d" % CORES,
             "aged=" + aged, "rows=" + ",".join(MIX_ROWS),
             "maintain_after=" + SERVE["maintain_after"], "warm_units=%d" % BULK_WARM_DRAINS]
    log = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (workload, seed, trace))
    if os.path.exists(log):
        os.remove(log)
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(classes, work, "perfbench.Main", jargs + ["launch_ms=%d" % launch_ms])
    try:
        rc = run_java(cmd, log, deadline)
        if rc != 0 or not os.path.exists(out):
            raise RuntimeError("benchmark JVM exited with %d; log: %s" % (rc, log))
        with open(out) as f:
            res = json.load(f)
        problems = checks.check(workload, res, data, MIX_ROWS)
    finally:
        if os.path.exists(out):
            os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
            shutil.copy(out, os.path.join(BUILD, "results", "%s-seed%d-trace%d.json"
                                          % (workload, seed, trace)))
        shutil.rmtree(work, ignore_errors=True)
    return res, problems


def trace_report(workload, seed, res):
    """Write spans and the per-layer table of a traced run; return the table."""
    d = os.path.join(BUILD, "trace")
    os.makedirs(d, exist_ok=True)
    run_id = "%s-seed%d" % (workload, seed)
    with open(os.path.join(d, run_id + ".spans.json"), "w") as f:
        json.dump({"run_id": run_id, "spans": res["spans"]}, f)
    wall = res["wall_s"]
    selfs = res["self_s"]
    lines = ["per-layer self time, %s (wall %.3f s)" % (run_id, wall)]
    for k in sorted(selfs, key=lambda k: -selfs[k]):
        label = "uncovered (benchmark code)" if k == "bench" else k
        lines.append("  %-30s %9.3f s %6.1f %%" % (label, selfs[k], 100 * selfs[k] / wall))
    lines.append("  %-30s %9.3f s" % ("sum", sum(selfs.values())))
    untraced = os.path.join(BUILD, "results", "%s-seed%d-trace0.json" % (workload, seed))
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        lines.append("  tracing overhead on op_p50_s: %+.3f s (traced %.3f, untraced %.3f)"
                     % (res["op_p50_s"] - base["op_p50_s"], res["op_p50_s"], base["op_p50_s"]))
    else:
        lines.append("  tracing overhead: no untraced run of this seed to compare with")
    text = "\n".join(lines)
    with open(os.path.join(d, run_id + ".layers.txt"), "w") as f:
        f.write(text + "\n")
    return text


def report(workload, seed, seconds, trace, t_start):
    try:
        res, problems = run_one(workload, seed, seconds, trace, t_start)
    except (build.BuildError, RuntimeError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return None
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, len(res["errors"]) + len(problems))
    for p in res["errors"] + problems:
        print("FAILED CHECK %s: %s" % (workload, p))
    named = dict(res["named"])
    named["failed_share"] = failed / attempted
    print("%s seed=%d: setup %.3f s, %d ops, op p50 %.4f s, peak RSS %.0f MB"
          % (workload, seed, res["setup_s"], len(res["ops"]), res["op_p50_s"],
             res["peak_rss_mb"]))
    for name, unit in NAMED[workload] + [("failed_share", "share")]:
        print("  %-20s %12.4f %s" % (name, named.get(name, float("nan")), unit))
    if trace:
        metrics = {n: {"value": float(res["layer"].get(n, selfs_metric(res, n))), "unit": u}
                   for n, u in per_layer_names()}
        print(trace_report(workload, seed, res))
    else:
        metrics = {n: {"value": float(res[n]), "unit": u} for n, u in E2E}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "named": named}


def selfs_metric(res, name):
    """`self.<layer>_s` per-layer entries come from the span tree."""
    if name.startswith("self.") and name.endswith("_s"):
        layer = name[len("self."):-len("_s")]
        return res["self_s"].get("bench" if layer == "uncovered" else layer, 0.0)
    return 0.0


def main():
    # SIGTERM unwinds like Ctrl-C, so the finally blocks stop the JVM
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    t_start = time.time()
    if a.workload != "all":
        r = report(a.workload, a.seed, a.seconds, a.trace, t_start)
        if r is None:
            sys.exit(1)
        r.pop("named")
        print(json.dumps(r))
        return
    # every workload for one seed: one JVM each, then all named metrics
    rows, ok = [], True
    for w in WORKLOADS:
        r = report(w, a.seed, a.seconds, a.trace, time.time())
        if r is None:
            sys.exit(1)
        ok = ok and r["correct"]
        rows += [(w, n, r["named"].get(n), u) for n, u in NAMED[w] + [("failed_share", "share")]]
        rows += [(w, n, r["metrics"][n]["value"], u) for n, u in E2E if not a.trace]
    print("\nend-to-end metrics, seed %d" % a.seed)
    for w, n, v, u in rows:
        print("  %-12s %-20s %12.4f %s" % (w, n, v, u))
    print(json.dumps({"correct": ok, "workloads": WORKLOADS}))


if __name__ == "__main__":
    main()
