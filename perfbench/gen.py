"""Seeded input generator for the benchmark workloads.

Every table uses the column names and parquet types of the engine's
testdata tables (``ssg_etl_spark.schemas.TESTDATA``): int32 region/nation
keys, int64 entity keys, naive microsecond timestamps.  The same seed
always gives byte-for-byte the same rows.

What is planted, and why:

* hot customer and part keys: a few keys carry a fixed share of the order
  and line rows, so joins and aggregates on those keys are skewed;
* per-batch arrivals for the ERP workload: each batch lands new events,
  new orders, and re-sent orders with redrawn values, so the GL upsert
  takes both its update and its insert path;
* near-duplicate document clusters whose members differ from their seed
  document in a fixed number of word positions, so pairs exist at several
  3-shingle Jaccard levels;
* a boilerplate phrase in more documents than the dedup operators'
  shingle document-frequency cap, so the df-cap path runs.

Run on its own to inspect the inputs:

    python3 perfbench/gen.py OUT_DIR --seed 1
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes (rows). The ops are dominated by fixed per-job cost, so
# larger inputs would mostly lengthen generation and the checks.
DIMS = {"customer": 3000, "supplier": 200, "part": 3000, "max_lines": 7}
ERP = {"initial_orders": 6000, "batches": 40, "new_orders": 60, "resent_orders": 30,
       "events_per_batch": 300}
DOCS = {"docs": 1100, "boiler_docs": 1070, "clusters": 60, "vocab": 3000}

# The cap the dedup operators apply (operators.dedup.DEFAULT_MAX_SHINGLE_DF).
SHINGLE_DF_CAP = 1000
BOILERPLATE = "this page is part of the shared site footer please read our terms"
# Word substitutions per cluster member: on 25-45-word documents these give
# 3-shingle Jaccard of roughly 0.85, 0.7 and 0.4 against the seed doc.
CLUSTER_EDITS = (1, 2, 5)

HOT_CUSTOMERS = 8
HOT_CUSTOMER_SHARE = 0.2
HOT_PARTS = 10
HOT_PART_SHARE = 0.2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "green", "small", "large", "steel", "brass", "ring",
              "widget", "bolt", "gear", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

ORDER_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
ORDER_DAYS = 2400
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _skewed_keys(rng, n, n_keys, n_hot, hot_share):
    """Uniform keys, except that ``hot_share`` of the rows hit ``n_hot`` keys."""
    keys = rng.integers(0, n_keys, n)
    hot = rng.random(n) < hot_share
    keys[hot] = rng.integers(0, n_hot, int(hot.sum()))
    return keys.astype(np.int64)


def _dims(rng, sizes):
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = sizes["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = sizes["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = sizes["part"]
    w = rng.integers(0, len(PART_WORDS), (npart, 2))
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) % 1000 * 0.1, 2),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def _orders(rng, keys, n_customers):
    n = len(keys)
    day = rng.integers(0, ORDER_DAYS, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": _skewed_keys(rng, n, n_customers, HOT_CUSTOMERS, HOT_CUSTOMER_SHARE),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(ORDER_EPOCH + day, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _lineitem(rng, order_keys, sizes):
    lines = rng.integers(1, sizes["max_lines"] + 1, len(order_keys))
    okey = np.repeat(np.asarray(order_keys, np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = ORDER_EPOCH + rng.integers(1, ORDER_DAYS + 90, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": _skewed_keys(rng, n, sizes["part"], HOT_PARTS, HOT_PART_SHARE),
        "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _events(rng, first_id, n, start_us, span_us):
    """``n`` events with distinct timestamps in [start, start + span)."""
    offs = np.sort(rng.choice(span_us, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(EVENT_EPOCH + (start_us + offs).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def gen_erp(out: str, seed: int) -> None:
    """Landed dimensions and initial orders, then one directory per batch
    holding that batch's events and its new and re-sent orders."""
    rng = np.random.default_rng([seed, 2])
    for name, t in _dims(rng, DIMS).items():
        _write(t, f"{out}/dims/{name}.parquet")
    n0, nb = ERP["initial_orders"], ERP["batches"]
    total = n0 + nb * ERP["new_orders"]
    _write(_lineitem(rng, np.arange(total), DIMS), f"{out}/dims/lineitem.parquet")
    _write(_orders(rng, np.arange(n0), DIMS["customer"]), f"{out}/initial/orders.parquet")
    # Day-long batch windows; batch b's events all follow batch b-1's.
    span = 86400 * 10**6
    _write(_events(rng, 0, ERP["events_per_batch"], 0, span), f"{out}/initial/events.parquet")
    next_key = n0
    for b in range(nb):
        d = f"{out}/batch_{b:04d}"
        ev = _events(rng, (b + 1) * ERP["events_per_batch"], ERP["events_per_batch"],
                     (b + 1) * span, span)
        _write(ev, f"{d}/events.parquet")
        new = np.arange(next_key, next_key + ERP["new_orders"])
        resent = rng.choice(next_key, ERP["resent_orders"], replace=False)
        next_key += ERP["new_orders"]
        _write(_orders(rng, np.concatenate([new, np.sort(resent)]), DIMS["customer"]),
               f"{d}/orders.parquet")


def _doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_docs(out: str, seed: int) -> None:
    """A corpus with planted near-duplicate clusters and a boilerplate
    phrase.  Writes ``planted.json`` with every planted pair."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(DOCS["vocab"])])

    def fresh():
        return list(vocab[rng.integers(0, len(vocab), int(rng.integers(25, 45)))])

    def edit(words, k):
        out = list(words)
        for pos in rng.choice(len(out), k, replace=False):
            out[pos] = f"x{int(rng.integers(0, 10**9))}"
        return out

    # Cluster seeds first, then singletons. The boilerplate goes into every
    # cluster seed before its copies are made (so members share it at the
    # same place) and into enough singletons to pass the df cap.
    n_clusters, size = DOCS["clusters"], 1 + len(CLUSTER_EDITS)
    originals = [fresh() for _ in range(DOCS["docs"] - n_clusters * (size - 1))]
    boiler = BOILERPLATE.split()
    n_single = DOCS["boiler_docs"] - n_clusters * size
    with_boiler = list(range(n_clusters)) + list(
        n_clusters + rng.choice(len(originals) - n_clusters, n_single, replace=False))
    for i in with_boiler:
        pos = int(rng.integers(0, len(originals[i]) + 1))
        originals[i] = originals[i][:pos] + boiler + originals[i][pos:]
    texts, planted = [], []
    for seed_doc in originals[:n_clusters]:
        seed_id = len(texts)
        texts.append(seed_doc)
        for k in CLUSTER_EDITS:
            planted.append([seed_id, len(texts)])
            texts.append(edit(seed_doc, k))
    texts += originals[n_clusters:]
    # Every shingle inside the phrase must stay above the cap after the edits.
    inner = {tuple(boiler[i:i + 3]) for i in range(len(boiler) - 2)}
    df = dict.fromkeys(inner, 0)
    for t in texts:
        for sh in inner & {tuple(t[i:i + 3]) for i in range(len(t) - 2)}:
            df[sh] += 1
    assert min(df.values()) > SHINGLE_DF_CAP, min(df.values())
    _write(_doc_table(np.arange(len(texts)), [" ".join(t) for t in texts], rng),
           f"{out}/documents.parquet")
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f)


GENERATORS = {"erp_incremental": gen_erp, "dedup_curation": gen_docs}


def generate(workload: str, out: str, seed: int) -> None:
    GENERATORS[workload](out, seed)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", choices=sorted(GENERATORS), action="append")
    args = ap.parse_args()
    for w in args.workload or sorted(GENERATORS):
        t0 = dt.datetime.now()
        generate(w, os.path.join(args.out, w), args.seed)
        print(f"{w}: {(dt.datetime.now() - t0).total_seconds():.2f} s")


if __name__ == "__main__":
    main()
