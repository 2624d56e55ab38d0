"""Order-insensitive result canonicalization and the DuckDB oracle.

Rows are normalized the way the repository's oracle-parity test does
(NaN as a token, timestamps and dates as ISO strings, sequences as
tuples, floats kept exact), with one addition: a number that is an exact
integer compares as that integer, so a BIGINT on one side equals a
DOUBLE on the other exactly when the parity test's ``==`` would.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(columns), sorted(
        (tuple(_norm(row[i]) for i in idx) for row in rows), key=repr
    )


def digest(columns: list[str], rows) -> str:
    cols, canon = canonical(columns, rows)
    return hashlib.sha256(repr((cols, canon)).encode()).hexdigest()


def duckdb_digests(sql_by_id: dict[str, str], table_dir: str) -> dict[str, str]:
    """Run each oracle query over the parquet tables in ``table_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(table_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(table_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        out = {}
        for qid, sql in sql_by_id.items():
            cur = con.execute(sql)
            out[qid] = digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
