"""DuckDB twins of the registered queries (`SparkEntry.oracleSql`), run over
the same parquet files the program reads. Runs only after the runner JVM
has exited, never inside a timed region.

Row counts are cached per table directory in `perfbench/_work/twins/`,
keyed by each twin's SQL text, so an edited twin is recomputed on its next
run. `python3 perfbench/run.py --refresh-twins ...` (or deleting the cache
directory) recomputes every cached count anew.
"""
import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_work", "twins")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def row_counts(data, oracle, refresh=False):
    """{name: DuckDB row count} for every name in `oracle` ({name: sql})."""
    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, os.path.basename(data) + ".json")
    cache = {}
    if os.path.exists(path) and not refresh:
        with open(path) as fh:
            cache = json.load(fh)
    con, out, dirty = None, {}, False
    for name, sql in oracle.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql"] != key:
            con = con or connect(data)
            n = con.execute(f"SELECT count(*) FROM ({sql}) AS twin").fetchone()[0]
            hit = cache[name] = {"sql": key, "rows": n}
            dirty = True
        out[name] = hit["rows"]
    if dirty:
        with open(path + ".tmp", "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return out


def compare_values(data, name, sql, spark_dir):
    """Failure messages of a value compare of one query's answer."""
    import glob

    import pandas as pd

    import checks
    if sql is None:
        return [f"{name}: no DuckDB twin"]
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not files:
        return [f"{name}: no answer files"]
    want = connect(data).execute(sql).fetchdf()
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return checks.check_values(name, want, got)
