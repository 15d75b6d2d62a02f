#!/usr/bin/env python3
"""Seeded generator for the ten graded input tables.

Writes `<out>/<table>.parquet` for region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings, in the shapes the graded
lanes and their DuckDB oracles read (column names, types, value domains):

- a TPC-H-like star (region ← nation ← customer/supplier, part, orders,
  lineitem), row counts linear in the scale factor;
- `events`: `event_id` 0..n-1 with `ts` strictly increasing in `event_id`
  over a 30-day window, so a feed cut in `event_id` order never runs
  behind the streaming watermark;
- `documents`: texts over a 30-word vocabulary, about 5% of them planted
  near-duplicates (another document's text plus a `dup` token);
- `embeddings`: 64-d unit vectors in 10 weakly separated label clusters.

The same (scale factor, seed) always gives byte-identical tables.

    python3 gen_data.py <out_dir> <scale_factor> <seed> [table ...]

`generate(..., events_rows=n)` overrides the `events` row count alone (the
ETL feed needs a longer stream than its dimensions' scale factor gives).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
NOUNS = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
US_PER_DAY = 86_400_000_000
T_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
T_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    type=pa.string())


def counts(sf):
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def region(rng, n, c):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def nation(rng, n, c):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, n, c):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def supplier(rng, n, c):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})


def part(rng, n, c):
    names = [f"{a} {b}" for a in ADJS for b in NOUNS]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2))})


def orders(rng, n, c):
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(T_1995 + days * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def lineitem(rng, n, c):
    days = rng.integers(1, 2499, n)  # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, c["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(T_1995 + days * US_PER_DAY)})


def events(rng, n, c):
    # strictly increasing ts: positive gaps scaled to a 30-day window
    gaps = rng.exponential(1.0, n) + 1e-3
    ts = T_2024 + np.floor(np.cumsum(gaps) / gaps.sum() * (30 * US_PER_DAY - 60e6)).astype(np.int64)
    ts = ts + np.arange(n)  # ties broken, order kept
    users = max(150, c["customer"] // 10)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.clip(np.round(rng.lognormal(2.7, 1.1, n), 2), 0.01, 490.02)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


def documents(rng, n, c):
    texts = []
    for _ in range(n):
        words = np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words)[: int(rng.integers(48, 554))].rstrip())
    # planted near-duplicates: another document's text plus one or two `dup`
    for i in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=p),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(rng, n, c):
    labels = rng.integers(0, 10, n)
    cents = rng.normal(0.0, 0.02, (10, 64))
    x = cents[labels] + rng.normal(0.0, 0.125, (n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


TABLES = {"region": region, "nation": nation, "customer": customer,
          "supplier": supplier, "part": part, "orders": orders,
          "lineitem": lineitem, "events": events, "documents": documents,
          "embeddings": embeddings}


def generate(out, sf, seed, tables=None, events_rows=None):
    os.makedirs(out, exist_ok=True)
    c = counts(sf)
    if events_rows:
        c["events"] = events_rows
    for i, name in enumerate(TABLES):
        if tables and name not in tables:
            continue
        # one stream per table: a table's content does not depend on which
        # other tables are generated alongside it
        rng = np.random.default_rng([seed, i])
        t = TABLES[name](rng, c.get(name, 0), c)
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        # small row groups let a reader skip to an event_id range
        pq.write_table(t, tmp, row_group_size=16384)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4:] or None)
