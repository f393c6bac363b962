"""Seeded generator for the benchmark's input tables.

Writes the ten tables of the star schema (`region` ... `embeddings`) as
parquet with the same column names and types as the fixture tables the
program is written against, at a chosen size. The same seed always gives
byte-identical table contents.

For the `ingest` workload the four appended tables (`documents`,
`embeddings`, `orders`, `lineitem`) are written as part-file directories,
and a held-out slice of each is written as numbered shards. Held-out keys
lie above every key of the base copy, so the frozen IVF quantizer (the 16
lowest vector ids) never moves, and each shard carries its orders together
with all of their line items.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.1, the scale the fixture tables are generated at.
SF01 = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000,
}
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EMB_DIM = 64
US_PER_DAY = 86400 * 1000000
DAY_1995 = 9131           # 1995-01-01 in days since the epoch
DAY_2024 = 19723          # 2024-01-01

TS = pa.timestamp("us")


def sizes(scale):
    """Row counts at `scale` (1.0 = sf0.1), at least 50 rows a table."""
    return {t: max(50, int(round(n * scale))) for t, n in SF01.items()}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _retail(partkeys):
    return np.round(900.0 + (partkeys % 1000) * 0.1, 1)


def _orders(rng, lo, hi, n_cust):
    n = hi - lo
    days = rng.integers(0, 2404, n) + DAY_1995
    return pa.table({
        "o_orderkey": pa.array(np.arange(lo, hi, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(days.astype(np.int64) * US_PER_DAY, TS),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitem(rng, n, order_lo, order_hi, n_part, n_supp):
    partkeys = rng.integers(0, n_part, n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(1, 2499, n) + DAY_1995
    return pa.table({
        "l_orderkey": pa.array(rng.integers(order_lo, order_hi, n, dtype=np.int64)),
        "l_partkey": pa.array(partkeys),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _retail(partkeys), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(days.astype(np.int64) * US_PER_DAY, TS),
    })


def _documents(rng, lo, hi):
    """Random-word documents; about 5% are near copies of an earlier
    document (one word replaced by `dup`) and 0.2% exact copies, so the
    dedup operators have pairs to find."""
    n = hi - lo
    texts = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.05:
            words = texts[rng.integers(0, len(texts))].split(" ")
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        elif texts and r < 0.052:
            texts.append(texts[rng.integers(0, len(texts))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(lo, hi)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, lo, hi):
    n = hi - lo
    v = rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def generate(out_dir, seed, scale, shards=0, shard_frac=0.01):
    """Write every table under `out_dir`; returns the row counts.

    With `shards` > 0 the appended tables become part-file directories
    and `out_dir/shards/NN/<table>.parquet` holds the held-out slices.
    """
    n = sizes(scale)
    rng = np.random.default_rng(seed)
    ids = np.arange
    region = pa.table({
        "r_regionkey": pa.array(ids(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(ids(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(ids(25, dtype=np.int32) % 5),
    })
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    customer = pa.table({
        "c_custkey": pa.array(ids(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(ids(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    pk = ids(npart, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, npart), rng.choice(NOUN, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(P_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(_retail(pk)),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + DAY_2024 * US_PER_DAY
    events = pa.table({
        "event_id": pa.array(ids(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype(np.int64), TS),
        "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    no, nli = n["orders"], n["lineitem"]
    nd, nv = n["documents"], n["embeddings"]
    tables = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "events": events,
        "orders": _orders(rng, 0, no, nc),
        "lineitem": _lineitem(rng, nli, 0, no, npart, ns),
        "documents": _documents(rng, 0, nd),
        "embeddings": _embeddings(rng, 0, nv),
    }
    appended = ("documents", "embeddings", "orders", "lineitem")
    for name, t in tables.items():
        if shards and name in appended:
            _write(t, f"{out_dir}/{name}.parquet/part-00000.parquet")
        else:
            _write(t, f"{out_dir}/{name}.parquet")
    per = {t: max(1, int(n[t] * shard_frac)) for t in ("documents", "embeddings", "orders")}
    for s in range(shards):
        o_lo = no + s * per["orders"]
        d_lo = nd + s * per["documents"]
        v_lo = nv + s * per["embeddings"]
        sd = f"{out_dir}/shards/{s:02d}"
        _write(_orders(rng, o_lo, o_lo + per["orders"], nc), f"{sd}/orders.parquet")
        _write(_lineitem(rng, 4 * per["orders"], o_lo, o_lo + per["orders"],
                         npart, ns), f"{sd}/lineitem.parquet")
        _write(_documents(rng, d_lo, d_lo + per["documents"]), f"{sd}/documents.parquet")
        _write(_embeddings(rng, v_lo, v_lo + per["embeddings"]), f"{sd}/embeddings.parquet")
    return n
