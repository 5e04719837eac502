"""Output checks.

`expected` runs each query's oracle SQL (`SparkEntry.oracleSql`) in DuckDB
over the same generated parquet tables; `compare` compares those results with
the Spark outputs the check pass wrote, both in the canonical form of
`tools/check.py` (columns sorted by name, rows sorted, floats rounded to 9
places, timestamps at microseconds). q41 has no oracle SQL; `ann_recall`
checks it against q28's exact top-5. `digest` fingerprints the news
pipeline's outputs for comparison with the pinned digests.
"""
import glob
import hashlib
import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

# the checkout's tools/check.py, whose canonical form `compare` uses
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

# doc_id/vec_id of the queries q28 and q41 rank neighbours for
ANN_QUERIES = range(10)
# floating-point columns of the WordWizard chain's output, left out of its
# digest: TF-IDF sentence embeddings and their PCA projection
CHAIN_FLOAT_COLUMNS = ("paragraph_sentence_embeddings",
                       "paragraph_reduced_dimensions_word_embeddings")


def read(path):
    """All part files of a parquet directory as one frame, or None."""
    files = glob.glob(f"{path}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def _plain(v):
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, np.generic):
        return v.item()
    return None if v is None or (isinstance(v, float) and v != v) else v


def digest(df):
    """Order-insensitive digest of a frame: every row as JSON with columns in
    name order, the rows sorted, hashed."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([_plain(v) for v in r], sort_keys=True)
                  for r in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def chain_digest(df):
    """Digest of the chain's output without its floating-point values:
    clusters, medoid flags, NER, summaries, sentiment and topic terms, with
    the input columns the chain carries through."""
    df = df.drop(columns=list(CHAIN_FLOAT_COLUMNS))
    df["topics"] = df["topics"].map(lambda ts: None if ts is None else [t["term"] for t in ts])
    return digest(df)


def zone_digests(res):
    """Digest of each clean zone a news_pipeline run's topic misses wrote."""
    return {t: None if (z := read(p)) is None else digest(z)
            for t, p in res["env"]["clean_zones"].items()}


def expected(data_dir, oracle_sql, tmp_dir):
    """DuckDB result of every oracle query, keyed by query name; independent
    queries run four at a time."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM parquet_scan('{data_dir}/{f}')")

    def run(name):
        try:
            return name, con.cursor().execute(oracle_sql[name]).fetchdf()
        except Exception as e:  # the oracle itself failing is a mismatch too
            return name, e

    with ThreadPoolExecutor(4) as pool:
        exp = dict(pool.map(run, sorted(oracle_sql)))
    con.close()
    return exp


def compare(results, expected):
    """Mismatch descriptions between Spark outputs and oracle results."""
    from check import canon
    bad = []
    for name, exp in sorted(expected.items()):
        got = read(f"{results}/{name}")
        if got is None:
            bad.append(f"{name}: no output")
            continue
        if isinstance(exp, Exception):
            bad.append(f"{name}: oracle {type(exp).__name__}: {exp}")
            continue
        got, exp = canon(got), canon(exp)
        if list(got.columns) != list(exp.columns):
            bad.append(f"{name}: columns {list(got.columns)} vs {list(exp.columns)}")
        elif len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows vs {len(exp)}")
        elif len(got.astype(str).compare(exp.astype(str))):
            bad.append(f"{name}: values differ")
    return bad


def ann_recall(results):
    """Mean share of q28's exact top-5 neighbours that q41 also returns."""
    exact, approx = read(f"{results}/q28_ann_topk"), read(f"{results}/q41_ivf_topk")
    hits = []
    for q in ANN_QUERIES:
        e = set(exact.loc[exact.query_id == q, "neighbor_id"])
        a = set(approx.loc[approx.query_id == q, "neighbor_id"])
        if e:
            hits.append(len(e & a) / len(e))
    return sum(hits) / len(hits)


def neardup_recall(results, planted):
    """Share of planted (original, copy) pairs among q25's verified pairs."""
    got = read(f"{results}/q25_neardup_lsh")
    found = set(zip(got.doc_a.astype(int), got.doc_b.astype(int)))
    return sum(1 for p in planted if tuple(p) in found) / len(planted)
