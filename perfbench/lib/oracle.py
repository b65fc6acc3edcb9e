"""Compare query results with DuckDB running each query's oracle SQL
over the same parquet tables: same column names, same row count and
the same hash of all values (rows sorted, columns sorted by name),
the comparison the engine's own correctness checker makes. Oracle
hashes are cached on disk, keyed by the SQL text and the tables'
content hash, because the oracle side does not depend on the engine."""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(df):
    """(sorted column names, row count, digest) of a pandas frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.apply(lambda col: col.map(_cell))
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in s.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return list(s.columns), len(s), h.hexdigest()[:16]


def tables_hash(tables_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(tables_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check(tables_dir, out_dir, oracle_sql, cache_dir):
    """Check every `out_dir/<pass>/<query>/` result. Returns
    (results checked, list of mismatch messages)."""
    import duckdb
    import pandas as pd
    os.makedirs(cache_dir, exist_ok=True)
    thash = tables_hash(tables_dir)
    con = None
    expected = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256((sql + "\n" + thash).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                expected[name] = tuple(json.load(f))
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
        expected[name] = fingerprint(con.execute(sql).fetchdf())
        with open(path + ".tmp", "w") as f:
            json.dump(expected[name], f)
        os.replace(path + ".tmp", path)
    checked, bad = 0, []
    for result in sorted(glob.glob(os.path.join(out_dir, "*", "*"))):
        name = os.path.basename(result)
        if name not in expected:
            continue
        files = glob.glob(os.path.join(result, "*.parquet"))
        checked += 1
        got = fingerprint(pd.concat([pd.read_parquet(f) for f in files])) if files else None
        want = expected[name]
        if got is None or tuple(got) != tuple(want):
            where = os.path.relpath(result, out_dir)
            bad.append(f"{where}: engine {got and got[:2]} {got and got[2]} "
                       f"!= oracle {want[:2]} {want[2]}")
    return checked, bad
