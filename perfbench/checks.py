"""Output checks of one benchmark run, made after the JVM has exited and so
outside every timed region. Each returns a list of problems; an empty list
means the program's outputs were correct.
"""
import glob
import json
import os


def _expected(dirpath):
    with open(os.path.join(dirpath, "expected.meta")) as f:
        return json.load(f)


def _sum_groups(files):
    out = {}
    for f in files:
        for k, (n, cents) in f["groups"].items():
            g = out.setdefault(k, [0, 0])
            g[0] += n
            g[1] += cents
    return out


def check_bulk(res, data):
    exp = _expected(os.path.join(data, "bulk"))
    want_groups = _sum_groups(exp["files"].values())
    nfiles = len(exp["files"])
    problems = []
    reps = res["observed"]["bulk"]["reps"]
    if not reps:
        problems.append("no drain completed")
    for i, rep in enumerate(reps):
        p = "drain %d: " % i
        if rep["rows"] != exp["rows_total"]:
            problems.append(p + "committed %d rows, %d lines are well-formed"
                            % (rep["rows"], exp["rows_total"]))
        if rep["sources_left"] != 0:
            problems.append(p + "%d source files not deleted" % rep["sources_left"])
        if not (rep.get("ledger_keys") == rep.get("ledger_distinct") == nfiles
                and rep.get("ledger_matches")):
            problems.append(p + "source ledger does not hold each of %d files once: %s"
                            % (nfiles, {k: rep.get(k) for k in
                                        ("ledger_keys", "ledger_distinct", "ledger_matches")}))
        if "groups" in rep:
            got = {k: list(v) for k, v in rep["groups"].items()}
            if got != want_groups:
                bad = sorted(k for k in set(got) | set(want_groups)
                             if got.get(k) != want_groups.get(k))
                problems.append(p + "read-back counts/sums differ in %d partitions, e.g. %s: "
                                "got %s want %s" % (len(bad), bad[0], got.get(bad[0]),
                                                    want_groups.get(bad[0])))
            if rep.get("max_buckets_per_user") != 1:
                problems.append(p + "a user_id maps to several buckets")
            lo, hi = (int(x) for x in rep["bucket_range"])
            if lo < 0 or hi > 15:
                problems.append(p + "bucket values outside [0, 16): %d..%d" % (lo, hi))
    return problems


def check_serve(res, data):
    exp = _expected(os.path.join(data, "serve"))
    problems = []
    episodes = res["observed"]["serve"]["episodes"]
    if not episodes:
        problems.append("no serve episode completed")
    for e, ep in enumerate(episodes):
        per_day, total = {}, 0
        rows_after = {}
        for r, obs in enumerate(ep["rounds"]):
            p = "episode %d round %d: " % (e, r + 1)
            f = exp["files"].get(obs["file"])
            if f is None or "pruned_rows" not in obs:
                problems.append(p + "round did not complete")
                continue
            total += f["rows"]
            for k, (n, _) in f["groups"].items():
                day = k.split("|")[0]
                per_day[day] = per_day.get(day, 0) + n
            rows_after[r + 1] = total
            if obs["per_day"] != per_day:
                problems.append(p + "per-day counts %s, want %s" % (obs["per_day"], per_day))
            if obs["pruned_rows"] != f["rows"]:
                problems.append(p + "pruned read counted %d rows, want %d"
                                % (obs["pruned_rows"], f["rows"]))
        for m in ep["maintenance"]:
            want = rows_after.get(m["after_round"])
            if not (m["commit_rows"] == m["read_rows"] == want):
                problems.append("episode %d: compaction after round %d: commit %d rows, "
                                "read %d, want %s" % (e, m["after_round"], m["commit_rows"],
                                                      m["read_rows"], want))
        if ep.get("ledger_keys") != ep.get("ledger_distinct"):
            problems.append("episode %d: source ledger holds a key twice" % e)
        if ep.get("stream_keys") != len(ep["rounds"]):
            problems.append("episode %d: %s stream batches in the ledger, want %d"
                            % (e, ep.get("stream_keys"), len(ep["rounds"])))
    return problems


def _compare(exp, got):
    """The repo's oracle comparison: columns sorted by name, values
    stringified and compared in row order."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return "columns %s, oracle %s" % (list(got.columns), list(exp.columns))
    if len(exp) != len(got):
        return "%d rows, oracle %d" % (len(got), len(exp))
    for c in exp.columns:
        a, b = exp[c].astype(str).values, got[c].astype(str).values
        neq = a != b
        if neq.any():
            i = neq.argmax()
            return "column %s row %d: %s, oracle %s" % (c, i, b[i], a[i])
    return None


def check_mix(res, data, rows):
    import duckdb
    mix = res["observed"]["mix"]
    oracle = mix["oracle_sql"]
    sf = os.path.join(data, "sf")
    problems = []
    for name in rows:
        sql = oracle.get(name)
        got_dir = os.path.join(mix["out_dir"], name)
        if sql is None:
            problems.append("%s: no oracle SQL" % name)
            continue
        con = duckdb.connect()
        try:
            for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
            want = con.execute(sql).fetchdf()
            got = con.execute("SELECT * FROM read_parquet('%s/*.parquet')" % got_dir).fetchdf()
        except Exception as e:  # a missing output or an oracle error fails the row
            problems.append("%s: %s" % (name, str(e).splitlines()[0]))
            continue
        finally:
            con.close()
        diff = _compare(want, got)
        if diff:
            problems.append("%s: %s" % (name, diff))
    return problems


def check(workload, res, data, rows):
    if workload == "ingest_bulk":
        return check_bulk(res, data)
    return check_serve(res, data) + check_mix(res, data, rows)
