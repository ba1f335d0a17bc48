"""Checks query_mix outputs against DuckDB's answers to the engine's oracle SQL.

The compare is the strict mode of tools/check_oracle.py: both sides are read
through DuckDB, columns sorted by name, and hashed together with their full
Arrow types and a type-tagged rendering of every value in row order. Oracle
digests are cached beside the input tables, keyed by the SQL text.
"""
import decimal
import datetime
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _render(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def _digest(con, sql):
    types = {f.name: str(f.type) for f in con.execute(sql).fetch_arrow_table().schema}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for i in order:
        h.update(f"{cols[i]}::{types[cols[i]]}\n".encode())
    for r in rows:
        h.update(("\x1f".join(_render(r[i]) for i in order) + "\n").encode())
    return {"sha": h.hexdigest(), "rows": len(rows),
            "schema": [f"{cols[i]}:{types[cols[i]]}" for i in order]}


def check(tables, out):
    """Returns one message per query whose output differs from the oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    cache_dir = os.path.join(tables, "_oracle")
    os.makedirs(cache_dir, exist_ok=True)
    bad = []
    for name, sql in sorted(json.load(open(os.path.join(out, "oracle_sql.json"))).items()):
        if not os.path.isdir(os.path.join(out, name)):
            bad.append(f"{name}: no engine output")
            continue
        key = os.path.join(cache_dir, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        try:
            if os.path.exists(key):
                want = json.load(open(key))
            else:
                want = _digest(con, sql)
                with open(key, "w") as f:
                    json.dump(want, f)
            got = _digest(con, f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            bad.append(f"{name}: {e}")
            continue
        if got["sha"] != want["sha"]:
            bad.append(f"{name}: engine {got['rows']} rows {got['schema']} != oracle "
                       f"{want['rows']} rows {want['schema']}")
    return bad
