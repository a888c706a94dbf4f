"""Expected output row counts for the batch queries.

Oracled queries: the DuckDB count of SparkEntry.oracleSql (the oracle
the correctness gate hashes against), over the benchmark's own copy of
the tables. Rows-only queries (no ANSI oracle): the count the program
produced at the commit that defined the benchmark, kept in
expected/rows_only_counts.json.
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROWS_ONLY = os.path.join(os.path.dirname(__file__), "..", "expected",
                         "rows_only_counts.json")


def duckdb_counts(oracle_sql, data_dir, names):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    counts = {}
    for name in names:
        if name in oracle_sql:
            sql = oracle_sql[name].strip().rstrip(";")
            counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    con.close()
    return counts


def expected_counts(oracle_sql, data_dir, names, cache_path):
    """{query: expected rows} for `names`, cached per build."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
        if all(n in cached for n in names):
            return cached
    counts = duckdb_counts(oracle_sql, data_dir, names)
    with open(ROWS_ONLY) as fh:
        rows_only = json.load(fh)[os.path.basename(data_dir)]
    for n in names:
        if n not in counts and n in rows_only:
            counts[n] = rows_only[n]
    with open(cache_path, "w") as fh:
        json.dump(counts, fh, indent=0, sort_keys=True)
    return counts
