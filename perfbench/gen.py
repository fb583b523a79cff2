"""Seeded input tables for the job benchmark.

Writes one parquet file per source table (`<dir>/<table>.parquet`) with the
schemas and value domains of the repository's TPC-H-style fixtures plus the
`events`, `documents` and `embeddings` extension tables. Row counts follow
the fixtures' scale factors (sf=0.01 gives 60,000 lineitem rows). The same
(seed, sf) always writes the same rows.

    python3 perfbench/gen.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_START).days + 1
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _us(start, offsets_us):
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.int64()).cast(pa.timestamp("us"))


def _days(start, days):
    return _us(start, np.asarray(days, dtype=np.int64) * 86400 * 1_000_000)


def _bal(rng, n, k, lo=0):
    """n draws from lo..lo+k-1 with every value drawn equally often (to
    within one), in random order: per-category counts, and so the sizes
    of the extracts, do not change with the seed."""
    return lo + rng.permutation(np.arange(n) % k)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf=0.01):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(_bal(rng, 25, 5), pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(_bal(rng, n_cust, 25), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in _bal(rng, n_cust, 5)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(_bal(rng, n_supp, 25), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(_bal(rng, n_part, 8), _bal(rng, n_part, 8))],
        "p_brand": [f"Brand#{i}" for i in _bal(rng, n_part, 25, 1)],
        "p_type": [TYPES[i] for i in _bal(rng, n_part, 6)],
        "p_size": pa.array(_bal(rng, n_part, 50, 1), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(_bal(rng, n_ord, n_cust), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in _bal(rng, n_ord, 3)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_START, _bal(rng, n_ord, ORDER_DAYS)),
        "o_orderpriority": [PRIORITIES[i] for i in _bal(rng, n_ord, 5)]})
    qty = _bal(rng, n_line, 50, 1).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(_bal(rng, n_line, n_ord), pa.int64()),
        "l_partkey": pa.array(_bal(rng, n_line, n_part), pa.int64()),
        "l_suppkey": pa.array(_bal(rng, n_line, n_supp), pa.int64()),
        "l_linenumber": pa.array(_bal(rng, n_line, 7, 1), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": _bal(rng, n_line, 11) / 100.0,
        "l_tax": _bal(rng, n_line, 9) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in _bal(rng, n_line, 3)],
        "l_linestatus": [("F", "O")[i] for i in _bal(rng, n_line, 2)],
        "l_shipdate": _days(ORDER_START + dt.timedelta(days=1),
                            _bal(rng, n_line, ORDER_DAYS + 95))})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _us(EVENT_START, np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))),
        "user_id": pa.array(_bal(rng, n_ev, n_users), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in _bal(rng, n_ev, 5)],
        "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 1.2, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in _bal(rng, n_ev, 100)]})
    # about 5% of documents are near-duplicates: another document's text
    # with " dup" appended, as in the fixtures
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k))
             for k in _bal(rng, n_doc, 90, 10)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    per_lang = np.floor(np.array(LANG_P) * n_doc).astype(int)
    per_lang[0] += n_doc - per_lang.sum()
    langs = rng.permutation(np.repeat(np.arange(5), per_lang))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = _bal(rng, n_emb, 10)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed, sf=0.01):
    """Write every table; returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = (table.num_rows, os.path.getsize(path))
    return sizes


if __name__ == "__main__":
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 0.01
    for t, (rows, size) in write(sys.argv[1], int(sys.argv[2]), sf).items():
        print(f"{t:12s} {rows:8d} rows {size:9d} bytes")
