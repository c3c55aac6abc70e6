"""Synthetic inputs for the benchmark.

Two generators, both deterministic in their seed:

* ``catalog(out_dir, sf)`` writes the ten tables the catalog queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) as one parquet file each, with the same schemas
  and value domains as the repository's sf test tables. The catalog data
  uses a fixed seed so the expected per-query row counts and hashes in
  ``expected/catalog.json`` stay valid; a run's ``--seed`` only orders
  the queries.
* ``landing(out_dir, seed, symbols, ...)`` writes the daily pipeline's
  landing zone: one ``events``-shaped parquet file per simulated trading
  day. Each day holds that day's ticks, a seeded share of re-delivered
  rows (exact copies of earlier rows, at-least-once delivery), late rows
  (new events stamped on an earlier day) and a few rows without a
  timestamp.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def catalog(out_dir, sf):
    """Write the catalog tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499)})

    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # planted duplicates: ~5% of the documents copy an earlier document
    # (exactly, or with one word replaced) and end with the word "dup"
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        words = texts[rng.integers(0, i)].split(" ")
        if rng.random() < 0.5:
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[i] = " ".join(words + ["dup"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


REDELIVER_SHARE, LATE_SHARE, NULL_TS_SHARE = 0.05, 0.03, 0.002


def landing(out_dir, seed, symbols, days, ticks_per_day):
    """Write ``days`` landing files ``day_00000.parquet``... into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start = np.datetime64("2024-01-01", "us")
    day_us = 86_400 * 1_000_000
    price = rng.uniform(20.0, 400.0, len(symbols))
    next_id = 0
    history = []  # earlier days' tables, the pool for re-deliveries
    for d in range(days):
        n = int(ticks_per_day)
        ids = np.arange(next_id, next_id + n)
        next_id += n
        sym = rng.integers(0, len(symbols), n)
        price = np.maximum(1.0, price * np.exp(rng.normal(0.0, 0.01, len(symbols))))
        ts = start + d * day_us + np.sort(rng.integers(0, day_us, n))
        n_late = int(n * LATE_SHARE) if d > 0 else 0
        late_ids = np.arange(next_id, next_id + n_late)
        next_id += n_late
        late_day = d - rng.integers(1, min(d, 3) + 1, n_late) if n_late else np.zeros(0, int)
        late_ts = start + late_day * day_us + rng.integers(0, day_us, n_late)
        late_sym = rng.integers(0, len(symbols), n_late)
        all_sym = np.concatenate([sym, late_sym])
        table = pa.table({
            "event_id": np.concatenate([ids, late_ids]),
            "ts": pa.array(np.concatenate([ts, late_ts]), pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n + n_late),
            "event_type": np.array(symbols)[all_sym],
            "value": np.round(price[all_sym] * np.exp(rng.normal(0.0, 0.002, n + n_late)), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n + n_late)],
        }, schema=EVENTS_SCHEMA)
        n_null = int(n * NULL_TS_SHARE)
        if n_null:
            mask = np.zeros(table.num_rows, bool)
            mask[rng.choice(table.num_rows, n_null, replace=False)] = True
            table = table.set_column(1, "ts", pa.array(
                [None if m else v for m, v in zip(mask, table.column("ts").to_pylist())],
                pa.timestamp("us")))
        parts = [table]
        n_redeliver = int(n * REDELIVER_SHARE) if history else 0
        if n_redeliver:
            pool = history[-3:]
            src = pool[rng.integers(0, len(pool))]
            parts.append(src.take(rng.choice(src.num_rows, min(n_redeliver, src.num_rows),
                                             replace=False)))
        out = pa.concat_tables(parts)
        pq.write_table(out, os.path.join(out_dir, f"day_{d:05d}.parquet"))
        history.append(table)
