"""Seeded generator for the benchmark corpus.

Writes the ten tables the catalog reads (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) with the schema, types, sizes and
value distributions of the corpus the engine's tests are written against:
one parquet file with one row group per table. The same (seed, sf) always
gives byte-identical files, so the oracle side can be cached by content
fingerprint.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _day_timestamps(rng, n, start, end):
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = rng.integers(0, days + 1, n)
    return (np.datetime64(start, "D") + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed, sf):
    def rng(i):
        return np.random.default_rng([seed, i])

    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_evt = int(1000000 * sf)
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    n_user = max(1, int(15000 * sf))

    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    r = rng(1)
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)}

    r = rng(2)
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}

    r = rng(3)
    keys = np.arange(n_part, dtype=np.int64)
    yield "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}

    r = rng(4)
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": _day_timestamps(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)}

    r = rng(5)
    yield "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _day_timestamps(r, n_line, "1995-01-02", "2001-11-04")}

    r = rng(6)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, span_us, n_evt))
    yield "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_user, n_evt),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]}

    r = rng(7)
    texts = [" ".join(_pick(r, WORDS, int(k))) for k in r.integers(10, 100, n_doc)]
    # 5% near-duplicates: another document's text with a marker token
    # appended, so the dedup / near-dup operators have work to find
    for i in r.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    yield "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    r = rng(8)
    vecs = r.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)}


def generate(out_dir, seed, sf):
    """Write the corpus for (seed, sf) into out_dir; returns its fingerprint
    (sha256 over the table files' bytes, in table order)."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name, cols in _tables(seed, sf):
        path = os.path.join(out_dir, f"{name}.parquet")
        table = pa.table(cols)
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()[:16]


STREAM_BATCHES = 2
STREAM_ROWS = 10000
STREAM_SPAN_US = 10_000_000  # event time one input file spans


def stream_inputs(out_dir, seed, batches=STREAM_BATCHES, rows=STREAM_ROWS):
    """Write the stream_state input: `batches` parquet files of `rows` rows,
    read one file per micro-batch. Event time rises with the row number
    `value`, so no row is ever late. `rts` lies 0 to 2 s after `ts`, so
    about half the rows fall inside the 1 s join band. In odd-numbered
    files one row in forty repeats the text of the row one file earlier,
    which the dedup stage drops. Returns the fingerprint of the files."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    step = STREAM_SPAN_US // rows
    prev_texts = None
    for j in range(batches):
        r = np.random.default_rng([seed, 100, j])
        value = np.arange(j * rows, (j + 1) * rows, dtype=np.int64)
        ts = (np.datetime64("2024-01-01T00:00:00", "us") + value * step).astype("datetime64[us]")
        n_words = r.integers(8, 32, rows)
        words = _pick(r, WORDS, int(n_words.sum()))
        bounds = np.concatenate([[0], np.cumsum(n_words)])
        texts = [f"w{v} " + " ".join(words[bounds[i]:bounds[i + 1]])
                 for i, v in enumerate(value)]
        if j % 2 == 1:
            for i in np.flatnonzero(r.random(rows) < 1 / 40):
                texts[i] = prev_texts[i]
        prev_texts = texts
        table = pa.table({
            "value": value,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "rts": pa.array(ts + r.integers(0, 2_000_000, rows).astype("timedelta64[us]"),
                            pa.timestamp("us", tz="UTC")),
            "event_type": pa.array([f"e{x}" for x in r.integers(0, 64, rows)]),
            "amount": r.integers(0, 1000, rows).astype(np.float64),
            "payload": r.integers(0, 1000, rows).astype(np.int64),
            "text": pa.array(texts),
        })
        path = os.path.join(out_dir, f"part-{j:03d}.parquet")
        pq.write_table(table, path, row_group_size=rows)
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()[:16]
