#!/usr/bin/env python3
"""Input generator for the benchmark.

Writes the star-schema tables, the `events` table and the
`documents`/`embeddings` corpus as one parquet file each, with the
same column names, types, row counts and value shapes as the
scale-factor test tables the registered queries are written against:
at scale 0.1, 600,000 lineitem rows, 100,000 events over the 30 days
from 2024-01-01 (about 2.3 a minute, so the export's range-join report
has about 1.4 M rows) and 5,000 documents.

The base tables come from a fixed seed, so every run reads the same
data; a run's own seed only salts the replica tags and vector noise
of the blown-up corpus and orders its arrivals (`blow_up`,
`stream_file`).

    python3 perfbench/gen.py <outDir> <scale> <table> [...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EVENTS_FROM = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30
BASE_SEED = 42


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def days(rng, lo, n_days, n):
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_region(rng, out, _):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def gen_nation(rng, out, _):
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})


def gen_customer(rng, out, scale):
    n = int(150000 * scale)
    write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})


def gen_supplier(rng, out, scale):
    n = int(10000 * scale)
    write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})


def gen_part(rng, out, scale):
    n = int(200000 * scale)
    adj = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
    noun = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pin"]
    write(out, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "),
                              rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})


def gen_orders(rng, out, scale):
    n = int(1500000 * scale)
    write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150000 * scale), n, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})


def gen_lineitem(rng, out, scale):
    n = int(6000000 * scale)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, int(1500000 * scale), n, dtype=np.int64),
        "l_partkey": rng.integers(0, int(200000 * scale), n, dtype=np.int64),
        "l_suppkey": rng.integers(0, int(10000 * scale), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": days(rng, "1995-01-02", 2499, n)})


def gen_events(rng, out, scale):
    n = int(1000000 * scale)
    span_us = EVENTS_DAYS * 86400 * 10**6
    ts = EVENTS_FROM + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15000 * scale), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def gen_documents(rng, out, scale):
    """Random texts of 10..100 words; 5% are an earlier doc plus a
    trailing "dup" token (near-duplicates) and a few are exact copies,
    so the dedup stages have families to find."""
    n = int(50000 * scale)
    lens = rng.integers(10, 101, n)
    flat = rng.choice(WORDS, int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, lens)]
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[min(src[i], i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[min(src[i], i)]
    write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_embeddings(rng, out, scale):
    n = int(20000 * scale)
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64)
        .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32)})


TABLES = {name[4:]: fn for name, fn in globals().items()
          if name.startswith("gen_")}


def blow_up(src, out, seed, factor, embeddings=False):
    """`factor` distinct replicas of src/documents.parquet (and of
    src/embeddings.parquet), built the way graft's tools.ScaleCheck
    builds its blow-ups: replica r's id is id + r * 10^7, every 4th word
    of its text (from the first) carries the tag "r<salt>" with a
    per-replica salt drawn from the seed, and its vectors get zero-mean
    noise of up to +-1.0 per dimension in steps of 0.001."""
    os.makedirs(out, exist_ok=True)
    if embeddings:
        e = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pydict()
        v = np.array(e["embedding"], dtype=np.float32)
        noise = np.random.default_rng([seed, 1001]).integers(
            -1000, 1001, (factor,) + v.shape).astype(np.float32) * np.float32(0.001)
        write(out, "embeddings", {
            "vec_id": np.concatenate([np.array(e["vec_id"]) + r * 10**7
                                      for r in range(factor)]),
            "embedding": pa.FixedSizeListArray.from_arrays(
                (v[None] + noise).ravel(), v.shape[1]).cast(pa.list_(pa.float32())),
            "label": pa.array(np.tile(np.array(e["label"], dtype=np.int32), factor))})
    docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pydict()
    salts = np.random.default_rng([seed, 1000]).integers(100000, 1000000, factor)
    split = [t.split(" ") for t in docs["text"]]
    cols = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for r, salt in enumerate(salts):
        tag = f"r{salt}"
        for i, words in enumerate(split):
            w = list(words)
            w[::4] = [x + tag for x in w[::4]]
            text = " ".join(w)
            cols["doc_id"].append(docs["doc_id"][i] + r * 10**7)
            cols["text"].append(text)
            cols["lang"].append(docs["lang"][i])
            cols["source"].append(docs["source"][i])
            cols["n_chars"].append(len(text))
    write(out, "documents", {
        "doc_id": pa.array(cols["doc_id"], pa.int64()), "text": cols["text"],
        "lang": cols["lang"], "source": cols["source"],
        "n_chars": pa.array(cols["n_chars"], pa.int64())})
    return cols


def stream_file(cols, out, seed, spacing_ms=100):
    """The blown-up docs in arrival order, as `doc_id<TAB>ts_ms<TAB>text`
    lines: replica by replica, in a seeded order within each replica,
    `spacing_ms` of event time apart from 2024-01-01T00:00Z."""
    t0 = 1704067200000
    ids = np.array(cols["doc_id"])
    rng = np.random.default_rng([seed, 1002])
    order = np.concatenate([rng.permutation(np.flatnonzero(ids // 10**7 == r))
                            for r in np.unique(ids // 10**7)])
    with open(os.path.join(out, "stream.tsv"), "w") as f:
        for k, i in enumerate(order):
            f.write(f"{ids[i]}\t{t0 + k * spacing_ms}\t{cols['text'][i]}\n")


def generate(out, scale, tables):
    """The base tables: the same for every run."""
    os.makedirs(out, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([BASE_SEED, sorted(TABLES).index(name)])
        TABLES[name](rng, out, scale)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), sys.argv[3:])
