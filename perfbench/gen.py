"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas and value distributions of the
project's TPC-H-ish fixtures (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings): one row group per
file, microsecond timestamps. The same seed always gives the same
files. Row counts are those of the sf0.1 fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)
    return path


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (µs) uniform over [start, end]."""
    s, e = (np.datetime64(start, "D"), np.datetime64(end, "D"))
    d = rng.integers(0, (e - s).astype(int) + 1, n)
    return pa.array((s + d).astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n, dup_share=0.05, exact_share=0.002):
    """Random texts over a 30-word vocabulary (10-100 words). A
    `dup_share` of the docs are another doc plus a trailing " dup"
    (near-duplicates); an `exact_share` are verbatim copies."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(n):
        if src[i] != i:
            if kind[i] < dup_share:
                texts[i] = texts[src[i]] + " dup"
            elif kind[i] < dup_share + exact_share:
                texts[i] = texts[src[i]]
    return texts


def _region(rng):
    return {"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def _nation(rng):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng):
    c = SF01["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return {"c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": segs[rng.integers(0, 5, c)]}


def _supplier(rng):
    s = SF01["supplier"]
    return {"s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s)}


def _part(rng):
    p = SF01["part"]
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    return {"p_partkey": np.arange(p, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "),
                                  noun[rng.integers(0, 8, p)]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": types[rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)}


def _orders(rng):
    o = SF01["orders"]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return {"o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, SF01["customer"], o).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": prios[rng.integers(0, 5, o)]}


def _lineitem(rng):
    li = SF01["lineitem"]
    return {"l_orderkey": rng.integers(0, SF01["orders"], li).astype(np.int64),
            "l_partkey": rng.integers(0, SF01["part"], li).astype(np.int64),
            "l_suppkey": rng.integers(0, SF01["supplier"], li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)}


def _events(rng):
    e = SF01["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    return {"event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, e).astype(np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}


def _embeddings(rng):
    m = SF01["embeddings"]
    x = rng.standard_normal((m, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {"vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32)}


def _doc_cols(rng, n, copies=1):
    """Documents table; with `copies` > 1, the Bench-style tier: copy k
    shifts doc_id by k*10^7 and prefixes every token with "c<k>", so
    shingle spaces stay disjoint across copies and the duplicate
    density (and the true answer) scales linearly."""
    texts = _documents(rng, n)
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    sources = [f"src{i % 20}" for i in range(n)]
    ids, out_t, out_l, out_s = [], [], [], []
    for k in range(copies):
        ids.append(np.arange(n, dtype=np.int64) + k * 10_000_000)
        out_t += texts if copies == 1 else [
            " ".join(f"c{k}{w}" for w in tx.split()) for tx in texts]
        out_l.append(langs)
        out_s += sources
    return {"doc_id": np.concatenate(ids), "text": out_t,
            "lang": np.concatenate(out_l), "source": out_s,
            "n_chars": np.array([len(x) for x in out_t], dtype=np.int64)}


TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events,
          "documents": lambda rng: _doc_cols(rng, SF01["documents"]),
          "embeddings": _embeddings}


def generate(out_dir, seed, tables, doc_copies=1):
    """Write the named tables under `out_dir` and return their sizes.
    Each table draws from its own stream of `seed`. `doc_copies` > 1
    writes the prefix-disjoint documents tier instead of `documents`."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        cols = (_doc_cols(rng, SF01["documents"], doc_copies)
                if name == "documents" else TABLES[name](rng))
        path = _write(out_dir, name, cols)
        sizes[name] = {"rows": len(next(iter(cols.values()))),
                       "bytes": os.path.getsize(path)}
        if name == "documents":
            texts = cols["text"]
            sizes[name]["dup_share"] = round(
                sum(1 for x in texts if x.endswith("dup")) / len(texts), 4)
    return sizes
