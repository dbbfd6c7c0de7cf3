#!/usr/bin/env python3
"""Deterministic synthetic TPC-H-style tables plus events, documents and
embeddings, for the benchmark's query mix.

A seeded copy of dev/gen_sf.py: --seed=42 (the default) reproduces that
script's output byte for byte. Row counts scale with <sf>; the distributions
follow the repository's shipped sf* test tables (TESTDATA.md).

The document vocabulary grows with corpus size (V = 15*sqrt(total words),
Zipf s=1 word frequencies), so shingle density stays roughly constant
across scale factors.

Usage:
  python3 perfbench/gen_sf.py <sf> <outdir> [--seed=N]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
ORDER_DAYS = 2404   # 1995-01-01 .. 2001-08-01 (observed o_orderdate range)
SHIP_DAYS = 2499    # 1995-01-01 .. 2001-11-05 (observed l_shipdate range)
EV_START_US = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
EV_SPAN_US = 30 * DAY_US  # observed events ts window: Jan 2024

ADJS = ["cold", "hot", "blue", "red", "small", "old", "large"]
NOUNS = ["ring", "bolt", "gear", "rod", "plate", "anvil"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def write(out, name, **cols):
    pq.write_table(pa.table(dict(cols)), os.path.join(out, f"{name}.parquet"))


def day_ts(rng, n, span_days):
    days = rng.integers(0, span_days, n)
    return pa.array(EPOCH_1995 + days * DAY_US, type=pa.timestamp("us"))


def main(sf, out, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_li = 4 * n_ord                      # uniform l_orderkey draw => Poisson(4)/order
    n_ev = int(1000000 * sf)
    n_doc = int(50000 * sf)
    n_emb = 8000 if sf >= 0.999 else 2000  # shipped: 500/500/2000 — sublinear

    write(out, "region",
          r_regionkey=pa.array(range(5), pa.int32()), r_name=REGIONS)
    write(out, "nation",
          n_nationkey=pa.array(range(25), pa.int32()),
          n_name=[f"NATION_{i}" for i in range(25)],
          n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32()))

    write(out, "customer",
          c_custkey=pa.array(np.arange(n_cust), pa.int64()),
          c_name=[f"Customer#{i:09d}" for i in range(n_cust)],
          c_nationkey=pa.array(rng.integers(0, 25, n_cust), pa.int32()),
          c_acctbal=np.round(rng.uniform(-1000, 10000, n_cust), 2),
          c_mktsegment=np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])

    write(out, "supplier",
          s_suppkey=pa.array(np.arange(n_supp), pa.int64()),
          s_name=[f"Supplier#{i:09d}" for i in range(n_supp)],
          s_nationkey=pa.array(rng.integers(0, 25, n_supp), pa.int32()),
          s_acctbal=np.round(rng.uniform(-1000, 10000, n_supp), 2))

    write(out, "part",
          p_partkey=pa.array(np.arange(n_part), pa.int64()),
          p_name=[f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(
              rng.integers(0, len(ADJS), n_part), rng.integers(0, len(NOUNS), n_part))],
          p_brand=[f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
          p_type=np.array(PTYPES)[rng.integers(0, 6, n_part)],
          p_size=pa.array(rng.integers(1, 51, n_part), pa.int32()),
          p_retailprice=np.round(900.0 + 0.1 * rng.integers(0, 1000, n_part), 1))

    write(out, "orders",
          o_orderkey=pa.array(np.arange(n_ord), pa.int64()),
          o_custkey=pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
          o_orderstatus=np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
          o_totalprice=np.round(rng.uniform(1000, 500000, n_ord), 2),
          o_orderdate=day_ts(rng, n_ord, ORDER_DAYS),
          o_orderpriority=np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])

    # Sequential linenumbers within each order keep (l_orderkey,
    # l_linenumber) unique: several queries ORDER BY that pair and outputs
    # are compared in row order. Sorted multinomial keys keep the Poisson
    # lines-per-order marginal.
    lo = np.sort(rng.integers(0, n_ord, n_li))
    ln = (np.arange(n_li) - np.searchsorted(lo, lo) + 1).astype(np.int32)
    write(out, "lineitem",
          l_orderkey=pa.array(lo, pa.int64()),
          l_partkey=pa.array(rng.integers(0, n_part, n_li), pa.int64()),
          l_suppkey=pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
          l_linenumber=pa.array(ln, pa.int32()),
          l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
          l_extendedprice=np.round(rng.uniform(900, 105000, n_li), 2),
          l_discount=rng.integers(0, 11, n_li) / 100.0,
          l_tax=rng.integers(0, 9, n_li) / 100.0,
          l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
          l_linestatus=np.array(["O", "F"])[rng.integers(0, 2, n_li)],
          l_shipdate=day_ts(rng, n_li, SHIP_DAYS))

    ev_us = EV_START_US + rng.integers(0, EV_SPAN_US, n_ev)
    write(out, "events",
          event_id=pa.array(np.arange(n_ev), pa.int64()),
          ts=pa.array(ev_us * 1000, type=pa.timestamp("ns")),  # NANOS like shipped
          user_id=pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), pa.int64()),
          event_type=np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
          value=np.round(np.minimum(rng.exponential(50, n_ev), 999.0), 2),
          props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])

    # documents: bag-of-words, 10..100 words, lang a label (all text
    # English), plus engineered dup structure: ~1.5% near-dups (5% word
    # substitution) and ~0.3% exact dups. Vocabulary as in the module
    # docstring.
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    nw = rng.integers(10, 101, n_doc)
    exp_words = n_doc * 55  # E[nw] = 55
    v_size = max(int(15 * np.sqrt(exp_words)), 31)  # 31: the dev script's fixed-vocabulary size

    def word(i):  # deterministic base-26 token, 'a'..'z'
        s = ""
        while True:
            s += chr(ord("a") + i % 26)
            i //= 26
            if i == 0:
                return s
    vocab = np.array([word(i) for i in range(v_size)])
    p = 1.0 / np.arange(1, v_size + 1)
    p /= p.sum()
    flat = vocab[rng.choice(len(vocab), int(nw.sum()), p=p)]
    bounds = np.cumsum(nw)
    texts = [" ".join(flat[s:e]) for s, e in zip(np.r_[0, bounds[:-1]], bounds)]
    for i in rng.choice(np.arange(10, n_doc), max(n_doc // 67, 1), replace=False):
        src = rng.integers(0, i)
        words = texts[src].split(" ")
        for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
            words[j] = vocab[rng.choice(len(vocab), p=p)]
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(10, n_doc), max(n_doc // 333, 1), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    write(out, "documents",
          doc_id=pa.array(np.arange(n_doc), pa.int64()),
          text=texts,
          lang=langs[rng.choice(5, n_doc, p=lang_p)],
          source=[f"src{s}" for s in rng.integers(0, 20, n_doc)],
          n_chars=pa.array([len(t) for t in texts], pa.int64()))

    # embeddings: UNIT-NORM 64-d float32 (shipped E[coord^2] = 1/64),
    # 10 soft clusters (w=0.6 toward the label's unit center), plus a
    # few near-identical pairs for the near-dup path
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.normal(0, 1, (n_emb, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.6 * centers[labels] + 0.8 * noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(0, 10, 2):  # 5 near-dup pairs at fixed low ids
        vecs[i + 1] = vecs[i] + rng.normal(0, 1e-3, 64)
        vecs[i + 1] /= np.linalg.norm(vecs[i + 1])
        labels[i + 1] = labels[i]
    write(out, "embeddings",
          vec_id=pa.array(np.arange(n_emb), pa.int64()),
          embedding=pa.array([v.astype(np.float32) for v in vecs],
                             pa.list_(pa.float32())),
          label=pa.array(labels, pa.int32()))
    print(f"wrote sf={sf} -> {out}: lineitem={n_li} orders={n_ord} "
          f"events={n_ev} docs={n_doc} embeddings={n_emb}")


if __name__ == "__main__":
    seed = 42
    for a in sys.argv[3:]:
        if a.startswith("--seed="):
            seed = int(a.split("=", 1)[1])
        else:
            sys.exit("unknown argument %s" % a)
    main(float(sys.argv[1]), sys.argv[2], seed)
