"""Compares results the benchmark wrote with the repo's DuckDB oracle SQL
(`SparkEntry.oracleSql`) run over the same seeded input files.

Rows are compared in result order after sorting the columns by name,
with values normalised as the repo's own verifier does; column names and
logical types must match too. An oracle answer is a pure function of the
SQL text and the input files, so it is kept in `cache_dir` under a hash
of both and reused by later runs on the same inputs.
"""
import hashlib
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(rel):
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, map(str, rel.types)))
    rows = [[_norm(v) for v in r] for r in rel.df()[cols].values.tolist()]
    return cols, [types[c] for c in cols], rows


def _expected(con, sql, tables, cache_dir):
    h = hashlib.sha256(sql.encode())
    for path in tables:
        with open(path, "rb") as f:
            h.update(f.read())
    cached = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(cached):
        with open(cached) as f:
            return tuple(json.load(f))
    exp = _rows(con.sql(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(cached + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(cached + ".tmp", cached)
    return exp


def check(inputs_dir, check_dir, oracle_sql, cache_dir):
    """Returns the names whose result differs from the oracle, with why."""
    con = duckdb.connect()
    tables = []
    for table in ("events", "documents"):
        path = os.path.join(inputs_dir, f"{table}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            tables.append(path)
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            exp = _expected(con, sql, tables, cache_dir)
            got = _rows(con.sql(
                f"SELECT * FROM '{os.path.join(check_dir, name)}/*.parquet'"))
        except Exception as e:  # a missing result or a broken query
            bad.append((name, f"error: {str(e)[:200]}"))
            continue
        if exp[0] != got[0] or exp[1] != got[1]:
            bad.append((name, f"columns {got[:2]} != oracle {exp[:2]}"))
        elif exp[2] != got[2]:
            bad.append((name, f"{len(got[2])} rows differ from the oracle's "
                              f"{len(exp[2])}"))
    con.close()
    return bad
