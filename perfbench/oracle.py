"""DuckDB oracle check of the analytics workload's results.

The check is tools/compare_oracle.py's: a query's result, read from its
parquet dir, must equal the answer of its oracle SQL run in DuckDB over the
same tables, after both are sorted by column name and then by every column,
with equal dtypes; a query without an oracle (q21) must return rows.

Over the fixed sf0.1 tables the oracle answers never change, while the
brute-force q17 and q19 oracles take minutes there. So each oracle's answer
is kept as a fingerprint of that sorted frame, next to the SHA-256 of its
SQL, in expected_<sf dir>.json. An oracle whose SQL differs from the stored
one, or that reads other results through the dump dir (q23, q28), runs live.
`python3 perfbench/run.py --refresh-oracle` recomputes the file.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _plain(x):
    if hasattr(x, "tolist"):
        x = x.tolist()
    if isinstance(x, (list, tuple)):
        return tuple(_plain(y) for y in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _plain(v)) for k, v in x.items()))
    return x


def fingerprint(df):
    """SHA-256 of the frame sorted as compare_oracle sorts it: column names,
    dtypes and every value (-0.0 folded into 0.0, as pandas equality does)."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256(json.dumps([[c, str(df[c].dtype)] for c in df.columns]).encode())
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col + 0.0
        elif col.dtype == object:
            col = col.map(lambda x: repr(_plain(x)))
        h.update(pd.util.hash_pandas_object(col, index=False).values.tobytes())
    return {"fingerprint": h.hexdigest(), "rows": len(df)}


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def expected_path(sf_dir):
    return os.path.join(HERE, f"expected_{os.path.basename(os.path.normpath(sf_dir))}.json")


def result(con, dump_dir, name):
    files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check(sf_dir, dump_dir, names):
    """{query: (ok, detail)} for every name."""
    con = connect(sf_dir)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    expected = {}
    if os.path.exists(expected_path(sf_dir)):
        with open(expected_path(sf_dir)) as f:
            expected = json.load(f)
    out = {}
    for name in names:
        got = result(con, dump_dir, name)
        if got is None:
            out[name] = (False, "no result")
            continue
        if name not in oracle:
            out[name] = (len(got) > 0, f"rows-only, rows={len(got)}")
            continue
        sql = oracle[name]
        stored = expected.get(name)
        try:
            if stored and stored["sql_sha256"] == sql_hash(sql):
                want = stored["answer"]
            else:
                want = fingerprint(con.execute(sql).fetchdf())
            have = fingerprint(got)
        except Exception as e:  # an oracle or a result that cannot be read fails the query
            out[name] = (False, f"{type(e).__name__}: {e}")
            continue
        ok = have == want
        out[name] = (ok, f"rows={have['rows']}" if ok else f"got {have}, oracle {want}")
    return out


def refresh(sf_dir, dump_dir, names):
    """Recompute the stored answers of the named oracles that do not read
    the dump dir; returns them."""
    con = connect(sf_dir)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    stored = {}
    for name in sorted(names):
        sql = oracle.get(name)
        if sql is None or os.path.abspath(dump_dir) in sql:
            continue
        stored[name] = {"sql_sha256": sql_hash(sql), "answer": fingerprint(con.execute(sql).fetchdf())}
    with open(expected_path(sf_dir), "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    return stored
