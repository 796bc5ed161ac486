"""DuckDB answers to the catalog entries' ``oracleSql`` on generated tables.

Each answer is written as ``<name>.json``: the column names sorted, and
the rows with each value in the canonical form ``Check.scala`` reads —
numbers as JSON numbers, dates and timestamps as ISO text, lists and
structs as lists.
"""
import datetime
import decimal
import json
import math
import os
import uuid

import duckdb

import lsh
from gen import TABLES

LSH_OPS = ("d2_minhash_lsh", "dc2_incremental_clusters")
# dc2's cross pairs (corpus u, batch v) are the LSH candidates; its
# corpus-internal pairs are exact
_DC2_CROSS = "xpe AS (SELECT u, v FROM xp JOIN"
_DC2_CROSS_LSH = ("xpe AS (SELECT u, v FROM (SELECT xp.* FROM xp JOIN lsh_pairs l"
                  " ON least(xp.u, xp.v) = l.a AND greatest(xp.u, xp.v) = l.b) xp JOIN")


def _lsh_pairs(con):
    ids, texts = zip(*con.execute("SELECT doc_id, text FROM documents").fetchall())
    pairs = sorted(lsh.candidate_pairs(ids, texts))
    con.execute("CREATE TABLE lsh_pairs (a BIGINT, b BIGINT)")
    if pairs:
        con.executemany("INSERT INTO lsh_pairs VALUES (?, ?)", pairs)
    return set(pairs)


def _query(con, name, sql, lsh_pairs):
    """Columns and rows of one entry's answer."""
    if name == "dc2_incremental_clusters":
        if sql.count(_DC2_CROSS) != 1:
            raise ValueError("dc2's oracle has no single cross-pair CTE to restrict")
        sql = sql.replace(_DC2_CROSS, _DC2_CROSS_LSH)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    if name == "d2_minhash_lsh":
        a, b = cols.index("doc_a"), cols.index("doc_b")
        rows = [r for r in rows if (r[a], r[b]) in lsh_pairs]
    return cols, rows


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return [_canon(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def answer(tables_dir, oracle_sql, names, out_dir):
    """Write one answer per name; a failing oracle leaves no file."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failed = []
    lsh_pairs = _lsh_pairs(con) if set(LSH_OPS) & set(names) else None
    for name in names:
        try:
            cols, rows = _query(con, name, oracle_sql[name], lsh_pairs)
        except Exception as e:  # reported by the op's check as a failure
            failed.append(f"{name}: {e}")
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        body = {"columns": [cols[i] for i in order],
                "rows": [[_canon(r[i]) for i in order] for r in rows]}
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump(body, f)
    return failed
