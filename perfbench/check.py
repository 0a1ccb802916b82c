"""Correctness checks for benchmark outputs, all against DuckDB.

Catalog results are compared with DuckDB's result for the query's own oracle
SQL over the same input, by the rules of scripts/selfcheck.py: columns
sorted by name, rows sorted, exact values (floats by repr), and no
array-typed columns. A result is reduced to (columns, row count, digest of
the normalised rows), so the slow recursive oracles are computed once per
input directory and kept in the work directory.

The token-ETL stores are checked with the SQL in perfbench/sql/, and a
repeat load must leave every store unchanged.
"""
import glob
import hashlib
import json
import os
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# store checked after each pipeline call, and its SQL file
STORES = {"rawLoad": "transfers", "enrichWallets": "wallets",
          "enrichDapps": "dapps", "enrichTokens": "tokens"}


def connect(threads=None, temp_dir=None):
    con = duckdb.connect()
    con.execute("SET memory_limit='3GB'")
    if temp_dir:
        con.execute(f"SET temp_directory='{temp_dir}'")
    if threads:
        con.execute(f"SET threads={int(threads)}")
    return con


def input_digest(data_dir):
    """Content digest of an input directory's tables."""
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def norm(rows):
    """scripts/selfcheck.py's row normalisation."""
    out = []
    for r in rows:
        rr = []
        for v in r:
            if isinstance(v, float):
                rr.append(("f", repr(v)))
            else:
                rr.append((type(v).__name__, str(v)))
        out.append(tuple(rr))
    out.sort()
    return out


def summarize(df):
    """(columns, rows, digest) of a result frame; raises on array columns,
    which the selfcheck comparator cannot sort."""
    df = df[sorted(df.columns)]
    arr = [c for c in df.columns
           if df[c].map(lambda v: isinstance(v, np.ndarray)).any()]
    if arr:
        raise ValueError(f"array-typed columns {arr}")
    rows = norm(df.itertuples(index=False, name=None))
    return {"columns": list(df.columns), "rows": len(rows),
            "digest": hashlib.sha256(repr(rows).encode()).hexdigest()}


def views(con, data_dir):
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")


def expected_dir(work):
    return os.path.join(work, "expected")


def ensure_expected(work, data_dir, oracle, queries, log=print, threads=None):
    """DuckDB's summary of each query's oracle result, computed once per
    (oracle text, input files) and kept under <work>/expected."""
    d = expected_dir(work)
    os.makedirs(d, exist_ok=True)
    digest = input_digest(data_dir)
    out, con = {}, None
    for q in queries:
        key = hashlib.sha256((oracle[q] + "\0" + digest).encode()).hexdigest()
        path = os.path.join(d, f"{q}-{key[:16]}.json")
        if not os.path.exists(path):
            if con is None:
                con = connect(threads, os.path.join(work, "duckdb-tmp"))
                views(con, data_dir)
            t0 = time.time()
            rec = summarize(con.execute(oracle[q]).fetch_df())
            rec["seconds"] = time.time() - t0
            rec["query"] = q
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(rec, f)
            os.replace(tmp, path)
            log(f"[expected] {q}: {rec['rows']} rows in {rec['seconds']:.1f} s")
        with open(path) as f:
            out[q] = json.load(f)
    if con is not None:
        con.close()
    return out


def check_result(con, result_dir, expected):
    """None if the parquet result under result_dir matches `expected`,
    else a one-line reason."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result files"
    try:
        got = summarize(con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetch_df())
    except Exception as e:  # unreadable output or array columns
        return f"unreadable result: {e}"
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} vs {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"rowcount {got['rows']} vs {expected['rows']}"
    if got["digest"] != expected["digest"]:
        return "value mismatch"
    return None


def _sql(name, events, store):
    with open(os.path.join(HERE, "sql", f"{name}.sql")) as f:
        return f.read().replace("@EVENTS@", events).replace("@STORE@", store)


def check_store(con, events, stores_dir, pipeline):
    """None if the store the pipeline writes matches DuckDB's computation
    over the input events, else a one-line reason."""
    name = STORES[pipeline]
    path = os.path.join(stores_dir, name)
    if not glob.glob(os.path.join(path, "*.parquet")):
        return f"store {name} missing"
    row = con.execute(_sql(name, events, path)).fetchone()
    missing, extra, dup = row
    if missing or extra or dup:
        return (f"store {name}: {missing} expected rows missing, "
                f"{extra} unexpected rows, {dup} duplicate keys")
    return None


def store_digest(con, stores_dir, pipeline):
    """(rows, order-free digest) of a store's content."""
    path = os.path.join(stores_dir, STORES[pipeline])
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None
    n, h = con.execute(
        "SELECT count(*), sum(hash(CAST(s AS VARCHAR))::HUGEINT) "
        f"FROM read_parquet('{path}/*.parquet') s").fetchone()
    return [n, str(h)]
