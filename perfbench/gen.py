"""Seeded input generator for the perfbench workloads.

Two kinds of input:

* Static tables (region, nation, customer, supplier, part, orders, lineitem,
  documents, embeddings) come from a fixed base seed, so every run sees the
  same catalog. They are written once per checkout and linked read-only
  into each run's data directory.
* The event feed comes from the workload seed: the ground-truth events, and
  the arrival files that deliver them. The seed decides the arrival split,
  which events are replayed as duplicates (about one delivered row in
  seven), a small out-of-order share that stays inside the 1-day
  watermark, and a small share held back past it.

The program only ever sees the generated directories.
"""
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATIC_SEED = 20240101
GEN_VERSION = 2

# Row counts of the sf0.01 test fixture (TESTDATA.md), counted in its files.
# Its sf0.1 fixture has ten times as many rows of every table and users,
# except embeddings (2,000).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "documents": 500, "embeddings": 500,
        "events": 10000, "users": 150}
EMBED_DIM = 64
EMBED_LABELS = 10
ORDER_DAYS = 2405     # o_orderdate: 1995-01-01 + uniform 0..2404 days
SHIP_DAYS = 2499      # l_shipdate: 1995-01-01 + uniform 1..2499 days, not tied to the order

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
FEED_DAYS = 30
FEED_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
WATERMARK_US = DAY_US
ROWS_PER_FILE = 1000  # the reference's staging batch
DUP_SHARE = 1 / 7     # share of delivered rows that replay an earlier event
OOO_SHARE = 0.03      # events delivered up to 3/4 of a file late (inside the watermark)
LATE_SHARE = 0.005    # events held back several days (beyond the watermark)

# Documents as in the fixtures: 10-100 words drawn uniformly from 30 words;
# 5% are near-duplicates of an earlier document, its text with "dup"
# appended or its last word dropped.
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part a "
         "merge window order column join vector").split()
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def static_tables(out_dir):
    """Write the static tables under `out_dir`; idempotent per GEN_VERSION."""
    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(STATIC_SEED)
    n = ROWS

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{tmp}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{tmp}/nation.parquet")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{tmp}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)}), f"{tmp}/supplier.parquet")

    npart = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)}),
        f"{tmp}/part.parquet")

    no = n["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": pa.array(
            day0 + rng.integers(0, ORDER_DAYS, no).astype("timedelta64[D]"),
            pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{tmp}/orders.parquet")

    # Every lineitem column is drawn on its own, as in the fixtures: the
    # price does not follow the quantity, nor the ship date the order date.
    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            day0 + rng.integers(1, SHIP_DAYS + 1, nl).astype("timedelta64[D]"),
            pa.timestamp("us"))}), f"{tmp}/lineitem.parquet")

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split()
            toks = toks + ["dup"] if rng.random() < 0.5 else toks[:-1]
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(toks))
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{tmp}/documents.parquet")

    # Unit vectors in random directions; the label is drawn apart from them.
    ne = n["embeddings"]
    vecs = rng.normal(0, 1, (ne, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBED_LABELS, ne), pa.int32())}),
        f"{tmp}/embeddings.parquet")

    for f in os.listdir(tmp):
        os.chmod(os.path.join(tmp, f), 0o444)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write(json.dumps({"version": GEN_VERSION, "seed": STATIC_SEED}))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def events(seed):
    """Ground-truth events of the feed: unique ids, time-ordered by id,
    spread uniformly over FEED_DAYS as in the fixtures."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS["events"]
    ts = FEED_START_US + np.sort(rng.integers(0, FEED_DAYS * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, ROWS["users"], n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def arrivals(seed, ev):
    """Split the feed into arrival files.

    Returns (files, in_horizon): `files` is a list of row-index arrays into
    `ev`, in arrival order; `in_horizon` is the set of event ids whose
    first delivery lies at or above the watermark any micro-batch split
    could have reached (max event time of every earlier file, minus one
    day). Those must be staged whatever the trigger sizes.
    """
    rnd = random.Random(seed * 1_000_003 + 7)
    n = len(ev["event_id"])
    ts = ev["ts"]
    # Base order is event time; a few events slip to a later slot.
    slot = np.arange(n, dtype=np.float64)
    per_day = n / FEED_DAYS
    for i in range(n):
        u = rnd.random()
        if u < OOO_SHARE:
            slot[i] += rnd.uniform(0.25, 0.75) * ROWS_PER_FILE
        elif u < OOO_SHARE + LATE_SHARE:
            slot[i] += per_day * rnd.uniform(2.5, 4.0)
    order = list(np.argsort(slot, kind="stable"))
    # Replays: about DUP_SHARE of the delivered rows repeat an event that was
    # delivered shortly before.
    delivered = []
    for pos, i in enumerate(order):
        delivered.append(int(i))
        if rnd.random() < DUP_SHARE / (1 - DUP_SHARE) and pos > 0:
            delivered.append(int(order[max(0, pos - rnd.randint(1, 600))]))
    files = [np.array(delivered[k:k + ROWS_PER_FILE], dtype=np.int64)
             for k in range(0, len(delivered), ROWS_PER_FILE)]
    in_horizon = set()
    seen = set()
    max_before = None
    for f in files:
        for i in f:
            eid = int(i)
            if eid in seen:
                continue
            seen.add(eid)
            if max_before is None or ts[i] >= max_before - WATERMARK_US:
                in_horizon.add(eid)
        m = int(ts[f].max())
        max_before = m if max_before is None else max(max_before, m)
    return files, in_horizon


def _events_table(ev, idx=None, tz=None):
    cols = {k: (v if idx is None else v[idx]) for k, v in ev.items()}
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz=tz)),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def write_run_inputs(static_dir, run_dir, seed):
    """Write one run's inputs under `run_dir`.

    data/      static tables (symlinks) + events.parquet (the feed's truth)
    arrivals/  arrival-NNNNN.parquet, in arrival order
    Returns a dict describing the feed for the correctness gate.
    """
    data = os.path.join(run_dir, "data")
    arr = os.path.join(run_dir, "arrivals")
    os.makedirs(data)
    os.makedirs(arr)
    for f in sorted(os.listdir(static_dir)):
        if f.endswith(".parquet"):
            os.symlink(os.path.abspath(os.path.join(static_dir, f)),
                       os.path.join(data, f))
    ev = events(seed)
    _write(_events_table(ev), os.path.join(data, "events.parquet"))
    files, in_horizon = arrivals(seed, ev)
    names = []
    for k, idx in enumerate(files):
        name = os.path.join(arr, f"arrival-{k:05d}.parquet")
        _write(_events_table(ev, idx, tz="UTC"), name)
        # the file source orders by modification time
        os.utime(name, (1_700_000_000 + k, 1_700_000_000 + k))
        names.append(name)
    return {"data": data, "arrivals": names,
            "file_ids": [[int(ev["event_id"][i]) for i in f] for f in files],
            "in_horizon": in_horizon, "events": ev}
