"""Seeded JSON-lines event generator for the ingest benchmark.

Rows follow the 13-type `IngestQueries.fixtureTable` schema. A fixed share
of lines is malformed (dropped by the decoder), a fixed share omits fields
(nulls, including a null `category` partition) and a fixed share carries
unknown keys (dropped by the schema projection). Beside the files it writes
`expected.meta`: per file, the well-formed row count, id range and, per
(event_date, category), the row count and `amount` sum in cents -- the
values every read-back is checked against.

run.py calls `generate()`; it also takes the category list and the user-id
range, which the benchmark narrows for its small warm-up input (few
partitions, few files).
"""
import datetime
import json
import os
import random

CATEGORIES = ["web", "api", "batch", "mobile", "iot"]
TAGS = ["t1", "t2", "t3", "hot", "cold", "new"]
MALFORMED_RATE = 0.005
MISSING_RATE = 0.03
EXTRA_RATE = 0.02
# fields a "missing fields" line may omit (never `id`, which is required)
OPTIONAL = ["event_time", "category", "amount", "score", "ratio", "count",
            "flag", "payload", "tags", "attrs"]
BASE_DAY = 19783  # 2024-03-01 as days since the epoch
EXPECTED = "expected.meta"  # not *.json, so the program never ingests it


def iso_day(days_since_epoch):
    return (datetime.date(1970, 1, 1)
            + datetime.timedelta(days=days_since_epoch)).isoformat()


def make_row(rng, rid, day_names, categories, users):
    cents = rng.randrange(0, 100000)
    row = {
        "id": rid,
        "event_date": day_names[rng.randrange(len(day_names))],
        "event_time": "%02d:%02d:%02d" % (rng.randrange(24), rng.randrange(60),
                                          rng.randrange(60)),
        "user_id": rng.randrange(users),
        "category": categories[rng.randrange(len(categories))],
        "amount": cents,  # rendered as a 2-dp decimal below
        "score": round(rng.random(), 6),
        "ratio": round(rng.random() * 4, 3),
        "count": rng.randrange(1000),
        "flag": rng.random() < 0.5,
        "payload": {"a": rng.randrange(100), "b": "p%d" % rng.randrange(50),
                    "c": [round(rng.random(), 3) for _ in range(rng.randrange(4))],
                    "d": {"k%d" % i: rng.randrange(10) for i in range(rng.randrange(3))}},
        "tags": [TAGS[rng.randrange(len(TAGS))] for _ in range(rng.randrange(4))],
        "attrs": {"a%d" % i: "v%d" % rng.randrange(20) for i in range(rng.randrange(3))},
    }
    u = rng.random()
    if u < MISSING_RATE:
        for f in rng.sample(OPTIONAL, rng.randrange(1, 4)):
            del row[f]
    elif u < MISSING_RATE + EXTRA_RATE:
        row["unknown_key"] = "ignored"
        row["nested_extra"] = {"z": rng.randrange(9)}
    return row


def encode(row):
    out = dict(row)
    if "amount" in out:
        out["amount"] = "@AMOUNT@"
    line = json.dumps(out, separators=(",", ":"))
    if "amount" in row:
        c = row["amount"]
        line = line.replace('"@AMOUNT@"', "%d.%02d" % (c // 100, c % 100))
    return line


def generate(outdir, seed, files, rows, days, first_id=0, prefix="part",
             categories=CATEGORIES, users=100000):
    os.makedirs(outdir, exist_ok=True)
    rng = random.Random(seed)
    day_names = [iso_day(BASE_DAY + d) for d in range(days)]
    per_file = rows // files
    expected = {"seed": seed, "files": {}, "rows_total": 0, "json_bytes": 0}
    rid = first_id
    for fi in range(files):
        name = "%s-%04d.json" % (prefix, fi)
        groups = {}
        good = 0
        lo = rid
        lines = []
        for _ in range(per_file):
            if rng.random() < MALFORMED_RATE:
                # a torn line: valid prefix, cut mid-value
                lines.append('{"id":%d,"event_date":"2024-' % rid)
                rid += 1
                continue
            row = make_row(rng, rid, day_names, categories, users)
            rid += 1
            good += 1
            key = "%s|%s" % (row["event_date"], row.get("category", "null"))
            g = groups.setdefault(key, [0, 0])
            g[0] += 1
            g[1] += row.get("amount", 0)
            lines.append(encode(row))
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(outdir, name), "wb") as f:
            f.write(data)
        expected["files"][name] = {"rows": good, "id_lo": lo, "id_hi": rid - 1,
                                   "bytes": len(data), "groups": groups}
        expected["rows_total"] += good
        expected["json_bytes"] += len(data)
    with open(os.path.join(outdir, EXPECTED), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected

