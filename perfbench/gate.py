"""Correctness gate: compare engine output with DuckDB oracles and with
serial replays.

Rows are compared as an order-insensitive multiset after normalising
values the same way on both sides: floats rounded to 9 digits (the
engine and its oracles agree exactly; the rounding only absorbs repr
noise), NULL and NaN folded to None, decimals to floats, and midnight
timestamps folded to dates (DuckDB and Spark disagree on DATE vs
TIMESTAMP for day-truncated columns).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
import pickle
from decimal import Decimal
from typing import Any, Iterable

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _value(v: Any) -> Any:
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, _dt.datetime):
        v = v.isoformat(sep=" ")
    elif isinstance(v, _dt.date):
        v = v.isoformat()
    if isinstance(v, str) and len(v) == 19 and v.endswith(" 00:00:00") \
            and v[4] == "-":
        return v[:10]
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def normalize(columns: list[str], rows: Iterable[Iterable[Any]]) -> tuple:
    """(sorted lower-cased column names, sorted normalised rows), with
    each row's values reordered to the sorted column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    return (tuple(columns[i].lower() for i in order),
            tuple(sorted(out, key=repr)))


def envelope_rows(envelope: dict) -> tuple:
    cols = [f["fieldName"] for f in envelope["header"]["fields"]]
    return normalize(cols, envelope["rows"])


def spark_rows(rows: list) -> tuple:
    """Normalise collected ``pyspark.sql.Row`` objects."""
    cols = list(rows[0].__fields__) if rows else []
    return normalize(cols, rows)


class Oracle:
    """DuckDB views over one data directory's parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def rows(self, sql: str) -> tuple:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return normalize(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()


def answers(data_dir: str, sql: dict, cache_dir: str) -> dict:
    """name -> normalised oracle rows of each query in ``sql``. An answer
    depends only on the query, the tables and DuckDB, so it is kept in
    ``cache_dir`` under a hash of the three: the pairwise dedup oracles
    take half a minute together, and a checkout's later runs reuse them."""
    import duckdb
    tables = hashlib.sha256(duckdb.__version__.encode())
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as fh:
                tables.update(t.encode() + fh.read())
    out, todo = {}, {}
    for name, q in sql.items():
        key = hashlib.sha256(tables.digest() + q.encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.pkl")
        try:
            with open(path, "rb") as fh:
                out[name] = pickle.load(fh)
        except OSError:
            todo[name] = (q, path)
    if todo:
        os.makedirs(cache_dir, exist_ok=True)
        orc = Oracle(data_dir)
        try:
            for name, (q, path) in todo.items():
                out[name] = orc.rows(q)
                with open(f"{path}.{os.getpid()}", "wb") as fh:
                    pickle.dump(out[name], fh)
                os.replace(f"{path}.{os.getpid()}", path)
        finally:
            orc.close()
    return out


def same_rows(got: tuple, want: tuple) -> bool:
    """Column names must match; an empty result carries no column names
    on the Spark side, so only row multisets are compared then."""
    if not got[1] and not want[1]:
        return True
    return got == want
