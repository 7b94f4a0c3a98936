"""Correctness checks against the registry's DuckDB oracles.

A query's result is reduced to (row count, order-insensitive hash) with
the normalisation the test suite's oracle gate uses (columns sorted by
name, then rows sorted; decimals as floats, datetimes as ISO strings,
NaN as a string, lists as tuples), so Spark rows and DuckDB rows compare
exactly.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

from datagen import TABLES


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def result_key(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 of the normalised, sorted rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(([cols[i] for i in order], keyed)).encode())
    return len(keyed), h.hexdigest()


def spark_key(df) -> tuple[int, str]:
    return result_key(df.columns, [tuple(r) for r in df.collect()])


def duckdb_keys(data_dir: str, oracles: dict[str, str],
                temp_dir: str) -> dict[str, tuple[int, str]]:
    """Run each oracle over the parquet tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, sql in oracles.items():
            res = con.sql(sql)
            out[name] = result_key(res.columns, res.fetchall())
        return out
    finally:
        con.close()
