"""Seeded input generator for the benchmark.

Writes one single-row-group snappy parquet file per table, with the
column names, physical types, row counts and value domains of the
engine's sf0.1 fixture tables, so every registry query sees the data
shape it was written for. The row counts are the sf0.1 fixture files'
own (`tests/test_gen.py` holds them): FIXTURES.md lists sf0.001 counts
and a ~100x scale to sf0.1, which the TPC-H tables and `events` follow
but `documents` (5,000 rows) and `embeddings` (2,000) do not. The same
seed gives byte-identical files.

The stream workload's event files are seeded samples of the generated
`events` table with fresh ids, advancing event time, and seeded shares
of redelivered duplicates and late events (see `stream_file`).
"""
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
GEN_VERSION = "3"

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
O_STATUS = ["O", "P", "F"]
O_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

EPOCH = dt.datetime(1970, 1, 1)
# event time of the first stream file; each file covers STREAM_FILE_SPAN_S
STREAM_T0 = dt.datetime(2024, 2, 1)
STREAM_FILE_SPAN_S = 60
# late events sit this far before the first stream file: far behind the
# 10-minute watermark the first micro-batch establishes
STREAM_LATE_LAG_S = 3600
STREAM_DUP_SHARE = 0.05
STREAM_LATE_SHARE = 0.01
# late events start at this file: Spark applies a batch's watermark from
# a later micro-batch on, so files consumed right after the set-up batch
# (the warm-up) carry none and the drop stays independent of batching
STREAM_LATE_FROM = 20
STREAM_ID_BASE = 10_000_000


def _rng(seed, stream):
    """Independent generator per (seed, purpose), so tables do not depend
    on the order they are built in."""
    return np.random.default_rng([seed, stream])


def _days(start, end, n, rng):
    lo = (start - EPOCH).days
    hi = (end - EPOCH).days
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _cents(lo, hi, n, rng):
    return np.round(rng.integers(lo, hi + 1, n) / 100.0, 2)


def _pick(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy",
                   row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def tpch_tables(seed, sf=SF):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(-99_999, 999_999, n_cust, r)),
        "c_mktsegment": _pick(SEGMENTS, r.integers(0, 5, n_cust))})
    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(-99_999, 999_999, n_supp, r))})
    r = _rng(seed, 3)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(names, r.integers(0, len(names), n_part)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)],
                         r.integers(0, 25, n_part)),
        "p_type": _pick(P_TYPES, r.integers(0, len(P_TYPES), n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})
    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(O_STATUS, r.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_cents(100_000, 50_000_000, n_ord, r)),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord, r),
        "o_orderpriority": _pick(O_PRIORITY, r.integers(0, 5, n_ord))})
    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_cents(90_000, 10_500_000, n_li, r)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": _pick(["A", "N", "R"], r.integers(0, 3, n_li)),
        "l_linestatus": _pick(["O", "F"], r.integers(0, 2, n_li)),
        "l_shipdate": _days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li, r)})
    return out


def _event_columns(n, r):
    """user_id, event_type, value, props drawn like the sf0.1 events."""
    return {
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(EVENT_TYPES, r.integers(0, 5, n)),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": _pick([f'{{"k": {k}}}' for k in range(100)], r.integers(0, 100, n))}


def events_table(seed, sf=SF):
    n = int(1_000_000 * sf)
    r = _rng(seed, 6)
    span_us = 30 * 86_400 * 1_000_000
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n)) + t0
    cols = _event_columns(n, r)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": cols["user_id"], "event_type": cols["event_type"],
        "value": cols["value"], "props": cols["props"]})


def corpus_tables(seed, sf=SF):
    n_docs, n_vec, dim = int(50_000 * sf), int(20_000 * sf), 64
    r = _rng(seed, 7)
    texts = []
    for _ in range(n_docs):
        words = r.integers(0, len(VOCAB), r.integers(10, 101))
        texts.append(" ".join(VOCAB[w] for w in words))
    # 5% near-duplicates (a copy of another document plus one word) and a
    # few exact copies: the shapes the dedup operators look for
    for i in r.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    for i in r.choice(n_docs, 8, replace=False):
        texts[i] = texts[int(r.integers(0, n_docs))]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, r.choice(len(LANGS), n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = _rng(seed, 8)
    v = r.standard_normal((n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32())})
    return {"documents": docs, "embeddings": emb}


def write_dataset(seed, out_dir):
    """All ten tables for `seed` under `out_dir` (built in a temp dir and
    renamed, so a killed run never leaves a half-written dataset)."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {**tpch_tables(seed), "events": events_table(seed),
              **corpus_tables(seed)}
    for name, t in tables.items():
        _write(t, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)
    return out_dir


def _stream_rows(seed, k, n):
    """The n on-time rows drawn for stream file k: fresh ids, event time
    inside [T0 + k*span, T0 + (k+1)*span)."""
    r = _rng(seed, 1000 + k)
    base = int((STREAM_T0 - EPOCH).total_seconds()) * 1_000_000
    span = STREAM_FILE_SPAN_S * 1_000_000
    ts = base + k * span + r.integers(0, span, n)
    cols = _event_columns(n, r)
    return pa.table({
        "event_id": pa.array(STREAM_ID_BASE + k * n + np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": cols["user_id"], "event_type": cols["event_type"],
        "value": cols["value"], "props": cols["props"]})


def stream_file(seed, k, events_per_file):
    """Event file `k` of the stream workload.

    Rows are seeded samples of the sf0.1 `events` distributions (see
    `_stream_rows`). From file 1 on, a seeded share of the rows are
    redeliveries of on-time rows of the previous three files (same id
    and payload). From file STREAM_LATE_FROM on, another share are late:
    fresh ids with event time an hour before file 0, so the watermark
    that file 0 establishes drops them however the files are batched.
    """
    n = events_per_file
    rows = _stream_rows(seed, k, n)
    if k == 0:
        return rows
    n_dup = int(n * STREAM_DUP_SHARE)
    n_late = int(n * STREAM_LATE_SHARE) if k >= STREAM_LATE_FROM else 0
    n_fresh = n - n_dup - n_late
    r = _rng(seed, 200_000 + k)
    pool = pa.concat_tables([_stream_rows(seed, j, n).slice(0, n_fresh)
                             for j in range(max(0, k - 3), k)])
    dups = pool.take(pa.array(r.choice(pool.num_rows, n_dup, replace=False)))
    base = int((STREAM_T0 - EPOCH).total_seconds()) * 1_000_000
    late_ts = (base - STREAM_LATE_LAG_S * 1_000_000
               - r.integers(0, STREAM_FILE_SPAN_S * 1_000_000, n_late))
    late = rows.slice(n_fresh, n_late).set_column(
        1, "ts", pa.array(late_ts, pa.timestamp("us", tz="UTC")))
    return pa.concat_tables([rows.slice(0, n_fresh), dups, late])


def write_stream_files(seed, out_dir, first, count, events_per_file, prefix):
    """Files first..first+count-1 as `<prefix>-<k>.parquet`; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(first, first + count):
        p = os.path.join(out_dir, f"{prefix}-{k:05d}.parquet")
        if not os.path.exists(p):
            _write(stream_file(seed, k, events_per_file), p)
        paths.append(p)
    return paths
