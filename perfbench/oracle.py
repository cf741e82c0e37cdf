"""DuckDB oracle check of one run's outputs.

For every operation, its output (parquet written by the harness after the
timed passes, with the fingerprint every pass produced) is compared with
DuckDB's evaluation of that operation's `SparkEntry.oracleSql` over the
same input directory, the way tools/selfcheck.py compares: column names
sorted, rows sorted by all columns, then cell by cell (floats exactly, NaN
equal to NaN). Every run recomputes every expected result.
"""
import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _source(input_dir, table):
    p = Path(input_dir) / f"{table}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.map(str))


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    try:
        if pd.isna(a) or pd.isna(b):
            return bool(pd.isna(a) and pd.isna(b))
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def compare(actual, expected):
    """Returns None when equal, else a one-line reason."""
    if list(actual.columns) != list(expected.columns):
        return f"columns differ: spark={list(actual.columns)} duckdb={list(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count differs: spark={len(actual)} duckdb={len(expected)}"
    for c in actual.columns:
        for i, (a, b) in enumerate(zip(actual[c].tolist(), expected[c].tolist())):
            if not cells_equal(a, b):
                return f"first difference: column {c} row {i}: spark={a!r} duckdb={b!r}"
    return None


def check(input_dir, dump_dir, oracle_sql):
    """Returns {op: reason} for every dumped output that is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        src = _source(input_dir, t)
        if Path(src.replace("/*.parquet", "")).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    failures = {}
    for op, sql in sorted(oracle_sql.items()):
        out = Path(dump_dir) / op
        if not out.is_dir():
            continue  # failed in the harness, and counted there
        try:
            rel = con.sql(sql)
            dec = [c for c, t in zip(rel.columns, rel.types) if "DECIMAL" in str(t).upper()]
            if dec:
                failures[op] = f"oracle emits DECIMAL columns {dec}"
                continue
            expected = canon(rel.df())
            actual = canon(con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
        except Exception as e:  # an oracle or a dump that cannot be read is a failure
            failures[op] = f"oracle check error: {e}".splitlines()[0][:300]
            continue
        reason = compare(actual, expected)
        if reason:
            failures[op] = reason
    return failures
