#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes every input a workload reads under <out_dir> and a manifest
(<out_dir>/manifest.json) with the planted structure the correctness
checks need (near-duplicate families, planted neighbours, batch row
counts, late events). The same (workload, seed) always gives the same
bytes of content. Table schemas mirror the star schema the program's
registered ops are written against (see Tables.scala).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload; the README records them.
WAREHOUSE_SF = 0.01          # lineitem ~ 6M * sf rows
CURATION_DOCS = 2000         # sf0.1 has 5,000 documents
CURATION_FAMILIES = 100      # planted near-duplicate families
CURATION_VECS = 1000         # sf0.1 has 2,000 embeddings
CURATION_PLANTED_NN = 70     # planted neighbour pairs
EMBED_DIM = 64
INGEST_BATCHES = 4           # commit batches per write round
INGEST_BATCH_ROWS = 20000
STREAM_FILES = 3             # one file per streaming trigger
STREAM_FILE_EVENTS = 10000
STREAM_USERS = 1500         # about one event per user per 72 minutes
STREAM_LATE_PER_FILE = 6     # planted late events, in file 2
STREAM_SLICE_S = 8 * 3600    # event-time span of one stream file

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "de", "fr", "zh"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def ts_us(arr) -> pa.Array:
    return pa.array(np.asarray(arr, dtype="datetime64[us]"), type=pa.timestamp("us"))


def events_table(rng, n, t0_us, span_us, first_id, n_users):
    """Events in ascending time order (event_id follows ts)."""
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": ts_us(EPOCH_2024 + (t0_us + offs).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 560, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def gen_star(rng, out, sf):
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
            [rng.integers(0, 5, n_cust)])}), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        f"{out}/supplier.parquet")
    colors = np.array(["large", "hot", "blue", "red", "green", "tiny", "dark",
                       "pale", "royal", "smoke"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw",
                      "spring"])
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 2)
    write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(
            colors[rng.integers(0, 10, n_part)], " "), nouns[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                     "STANDARD"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)}), f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01", "D")
    odays = rng.integers(0, (np.datetime64("2001-08-01", "D") - day0).astype(int) + 1, n_ord)
    odate = day0 + odays.astype("timedelta64[D]")
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            [rng.integers(0, 5, n_ord)])}), f"{out}/orders.parquet")
    nl = rng.integers(1, 8, n_ord)
    n_li = int(nl.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), nl)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(nl) - nl, nl) + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, nl) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": ts_us(ship)}), f"{out}/lineitem.parquet")
    n_ev = int(1000000 * sf)
    write(events_table(rng, n_ev, 0, 30 * 86400 * 10**6, 0, max(1, int(15000 * sf))),
          f"{out}/events.parquet")
    return {"lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_ev}


def gen_corpus(rng, out):
    """Documents with planted near-duplicate families, embeddings with
    planted neighbours."""
    n = CURATION_DOCS
    lens = rng.integers(10, 101, n)
    docs = [list(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # Family: one base of >= 60 words and 1..4 variants, each with one
    # word substituted per 50 words (edit rate 2%), placed at random ids.
    ids = rng.permutation(n)
    fams, pos = [], 0
    for _ in range(CURATION_FAMILIES):
        m = int(rng.integers(1, 5))
        members = [int(x) for x in ids[pos:pos + m + 1]]
        pos += m + 1
        base_len = int(rng.integers(60, 101))
        base = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), base_len)])
        docs[members[0]] = base
        for v in members[1:]:
            w = list(base)
            for _ in range(max(1, base_len // 50)):
                i = int(rng.integers(0, base_len))
                w[i] = VOCAB[(VOCAB.index(w[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                             % len(VOCAB)]
            docs[v] = w
        fams.append(members)
    text = [" ".join(d) for d in docs]
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))}),
        f"{out}/documents.parquet")

    nv = CURATION_VECS
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0, 0.6, (nv, EMBED_DIM))
    # Planted neighbours: b is a near copy of a (cosine > 0.99).
    perm = rng.permutation(nv)
    for j in range(CURATION_PLANTED_NN):
        a, b = int(perm[2 * j]), int(perm[2 * j + 1])
        vec[b] = vec[a] + rng.normal(0, 0.01, EMBED_DIM)
        label[b] = label[a]
    vec = vec.astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))}), f"{out}/embeddings.parquet")
    return {"documents_rows": n, "families": fams, "embeddings_rows": nv}


def gen_batches(rng, out, n):
    """Commit batches: events-shaped rows, one hour of event time each."""
    os.makedirs(out)
    for b in range(n):
        t = events_table(rng, INGEST_BATCH_ROWS, b * 3600 * 10**6, 3600 * 10**6,
                         b * INGEST_BATCH_ROWS, 2000)
        write(t, f"{out}/b{b:04d}.parquet")
    return {"batches": n, "batch_rows": INGEST_BATCH_ROWS}


def gen_stream(rng, out, n_files=STREAM_FILES):
    """Event files for the streaming queries, one per trigger. File k covers
    event time [k*slice, (k+1)*slice). Spark filters late rows against
    the watermark (max event time seen - 1h) of the batch before last,
    just under (k-1)*slice - 1h for file k. Each planted late event sits
    in [(k-2)*slice, (k-2)*slice + 6h), below it, one per distinct
    (1h window, event_type) group that no on-time event of file k
    shares, so the stateful aggregate drops exactly one partial
    aggregate per late event. Late events carry event_id >= 10**9. File
    mtimes increase with k: the file source orders by mtime."""
    os.makedirs(f"{out}/stream")
    slice_us = STREAM_SLICE_S * 10**6
    hour = 3600 * 10**6
    n_late = 0
    for k in range(n_files):
        t = events_table(rng, STREAM_FILE_EVENTS, k * slice_us, slice_us,
                         k * STREAM_FILE_EVENTS, STREAM_USERS)
        if k >= 2:
            j = np.arange(STREAM_LATE_PER_FILE)
            late_ts = (EPOCH_2024 + ((k - 2) * slice_us + j * hour
                       + rng.integers(0, hour, STREAM_LATE_PER_FILE)).astype("timedelta64[us]"))
            late = pa.table({
                "event_id": pa.array(np.arange(10**9 + n_late,
                                               10**9 + n_late + STREAM_LATE_PER_FILE)),
                "ts": ts_us(late_ts),
                "user_id": pa.array(rng.integers(0, STREAM_USERS, STREAM_LATE_PER_FILE).astype(np.int64)),
                "event_type": pa.array([EVENT_TYPES[i % 5] for i in j]),  # distinct hours
                "value": pa.array(np.round(rng.uniform(0, 560, STREAM_LATE_PER_FILE), 2)),
                "props": pa.array(['{"k": 0}'] * STREAM_LATE_PER_FILE)})
            t = pa.concat_tables([t, late])
            n_late += STREAM_LATE_PER_FILE
        path = f"{out}/stream/e{k:04d}.parquet"
        write(t, path)
        os.utime(path, (1700000000 + k * 10, 1700000000 + k * 10))
    return {"stream_files": n_files, "stream_events": n_files * STREAM_FILE_EVENTS + n_late,
            "stream_late": n_late}


def main(argv):
    if len(argv) != 4:
        print(__doc__, file=sys.stderr)
        return 2
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    if workload not in ("warehouse", "curation"):
        print(f"unknown workload {workload}", file=sys.stderr)
        return 2
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "warehouse":
        meta = gen_star(rng, out, WAREHOUSE_SF)
    else:
        meta = gen_corpus(rng, out)
    meta.update(gen_batches(rng, f"{out}/batches", INGEST_BATCHES))
    meta.update(gen_stream(rng, out))
    meta.update({"workload": workload, "seed": seed})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(meta, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
