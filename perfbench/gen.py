"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the query battery reads (a TPC-H-ish star schema,
an `events` stream, and the `documents` / `embeddings` curation tables)
as one parquet file each, one row group per file, with the column types,
value ranges and near-duplicate structure of the fixtures the battery is
checked against. The same (sf, seed) always gives byte-identical values.

    python3 perfbench/gen.py <out_dir> <sf> [seed]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
EMBED_DIM = 64


def _days(start, n_days, size, rng):
    """Midnight timestamps uniform over [start, start + n_days] (µs)."""
    base = np.datetime64(start, "us")
    day = np.int64(86_400_000_000)
    return base + rng.integers(0, n_days + 1, size) * day


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, n_line, rng),
                               pa.timestamp("us"))})
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: random word salad; 5% are near duplicates of another
    # document (its text plus a trailing " dup" token)
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n_doc)
    text = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    for i, j in zip(rng.choice(n_doc, n_doc // 20, replace=False),
                    rng.integers(0, n_doc, n_doc // 20)):
        text[i] = text[j] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in text], i64)})
    # embeddings: unit-norm gaussian vectors
    v = rng.standard_normal((n_vec, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})


def generate(out_dir, sf, seed=42):
    """Write every table into out_dir; a `_done` marker makes reruns free."""
    done = os.path.join(out_dir, "_done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={seed} at={dt.datetime.now().isoformat()}\n")
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
