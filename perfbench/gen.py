"""Seeded input generator for the benchmark workloads.

Every table mirrors the schema and value ranges of the engine's fixture
tables (TPC-H-like star schema, an event stream, a small-vocabulary document
corpus and labelled 64-d embeddings), so every `SparkEntry.queries` entry
runs unchanged against the generated directory. The same seed always gives
byte-identical tables; `digest()` proves it.

The document corpus carries planted near-duplicate families: each family is
an original document plus copies whose tokens are re-drawn at a fixed
perturbation rate. The (original, copy) pairs are the ground truth for the
near-duplicate recall check.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "dup", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["signup", "click", "error", "view", "purchase"]
DIM = 64

# sf0.01-sized star schema and the sf0.01 corpus sizes: the query suite is
# dominated by per-query fixed overhead at any fixture size, so larger tables
# only lengthen a run.
SIZES = dict(orders=15000, customers=1500, suppliers=100, parts=2000,
             events=10000, users=150, docs=500, vectors=500, families=25, copies=2)
PERTURB = 0.04   # share of tokens re-drawn in a near-duplicate copy
EXACT_DUPS = 8   # exact-duplicate documents per corpus


def _ts(rng, n, start, end, unit):
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi, n)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, families, copies):
    """Random-token documents plus planted families. Returns the table and
    the ground-truth (original, copy) doc-id pairs."""
    lens = rng.integers(8, 97, n)
    toks = [list(rng.integers(0, len(VOCAB), k)) for k in lens]
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    source = rng.integers(0, 20, n)
    ids = rng.permutation(n)  # planted copies land anywhere in id order
    pairs = []
    slots = iter(range(n - families * (copies + 1) - EXACT_DUPS, n))
    for _ in range(families):
        orig = next(slots)
        for _ in range(copies):
            c = next(slots)
            t = list(toks[orig])
            hit = rng.random(len(t)) < PERTURB
            for j in np.nonzero(hit)[0]:
                t[j] = rng.integers(0, len(VOCAB))
            toks[c], lang[c], source[c] = t, lang[orig], source[orig]
            pairs.append(tuple(sorted((int(ids[orig]), int(ids[c])))))
    for _ in range(EXACT_DUPS):
        d = next(slots)
        src = int(rng.integers(0, n - families * (copies + 1) - EXACT_DUPS))
        toks[d], lang[d], source[d] = toks[src], lang[src], source[src]
    text = [" ".join(VOCAB[i] for i in t) for t in toks]
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([text[i] for i in order], pa.string()),
        "lang": pa.array([LANGS[lang[i]] for i in order], pa.string()),
        "source": pa.array([f"src{source[i]}" for i in order], pa.string()),
        "n_chars": pa.array([len(text[i]) for i in order], pa.int64()),
    })
    return table, sorted(pairs)


def embeddings(rng, n):
    centroids = rng.normal(0.0, 0.1, (10, DIM))
    label = rng.integers(0, 10, n)
    vec = (centroids[label] + rng.normal(0.0, 0.08, (n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def star(rng, s):
    nc, ns, np_, no = s["customers"], s["suppliers"], s["parts"], s["orders"]
    nl = no * 4
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10, 1)})
    days = _ts(rng, no, "1995-01-01", "2001-08-02", "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(days.astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, no)]})
    ship = _ts(rng, nl, "1995-01-02", "2001-11-05", "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship.astype("datetime64[D]").astype("datetime64[us]"))})
    ne = s["events"]
    ts = np.sort(_ts(rng, ne, "2024-01-01", "2024-01-31", "us"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": [EVENTS[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return t


def generate(out_dir, seed):
    """Write every table under `out_dir` and return the manifest (sizes,
    perturbation rate, ground-truth near-duplicate pairs)."""
    s = SIZES
    rng = np.random.default_rng(seed)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    tables = star(rng, s)
    docs, pairs = documents(rng, s["docs"], s["families"], s["copies"])
    tables["documents"] = docs
    tables["embeddings"] = embeddings(rng, s["vectors"])
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    manifest = {
        "seed": seed,
        "rows": {k: v.num_rows for k, v in tables.items()},
        "neardup_families": s["families"], "copies_per_family": s["copies"],
        "neardup_share": round(len(pairs) / s["docs"], 4),
        "perturbation_rate": PERTURB, "exact_dups": EXACT_DUPS,
        "planted_pairs": pairs,
    }
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


def digest(out_dir):
    """Content digest of every table in a generated directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            for col in pq.read_table(os.path.join(out_dir, name)).columns:
                h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()
