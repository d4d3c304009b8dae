"""Deterministic synthetic tables for the benchmark.

Writes the ten TPC-H-ish tables the library reads (`graft.Tables.all`):
region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings, one single-row-group parquet file each, with
the column names, physical types and value shapes the library and its
DuckDB oracle SQL expect. Row counts scale with `sf` like the
library's reference fixtures (lineitem = 6,000,000 x sf). The pipeline
source (`graft.pipeline.CitibikeSource`) derives trips, stations and
programs from lineitem, supplier and nation.

`ship_days` sets how many consecutive days lineitem ships on (2,499 in
the reference fixtures), hence how many day files the producer unloads.
`dense_days` and `dense_rows` add `dense_rows` more line items to each
of the first `dense_days` ship days: the backlog a backfill ingests.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil widget rod plate ring gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# lineitem ship days start here; the pipeline producer unloads one day
# file per ship day.
SHIP_DAY0 = dt.datetime(1995, 1, 2)
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000
# the tables are fixed: they do not depend on the benchmark's seed
SEED = 42


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0, offsets):
    base = np.datetime64(day0, "us")
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _text(rng, n_docs):
    texts = []
    for i in range(n_docs):
        # one doc in twenty is an earlier doc plus a trailing marker word:
        # the near-duplicate pairs the dedup operators look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def generate(out_dir, sf, ship_days=2499, dense_days=0, dense_rows=0):
    rng = np.random.default_rng(SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_uniform = max(6000, int(6_000_000 * sf))
    n_line = n_uniform + dense_days * dense_rows
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
                                type=pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 901.0, 104999.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        # every ship day appears at least once, then uniform, then the
        # dense days' extra rows
        "l_shipdate": pa.array(_days(SHIP_DAY0, np.concatenate([
            np.arange(min(ship_days, n_uniform)),
            rng.integers(0, ship_days, max(0, n_uniform - ship_days)),
            np.repeat(np.arange(dense_days), dense_rows)])),
            type=pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(np.datetime64(EVENT_T0, "us") + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": pa.array(_money(rng, 0.01, 490.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = _text(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.0175, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})

