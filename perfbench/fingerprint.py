"""Order-independent fingerprints of query results.

A fingerprint is `(row count, sum of 64-bit row hashes mod 2**64)`, so two
results with the same multiset of rows match whatever their order. Values
are normalised the way `tools/check.py` compares them: columns sorted by
name, a float equal to an integer reads like the integer, dates read as
midnight timestamps, NaN and None are the same null, and a Decimal never
matches a float.
"""
import datetime
import decimal
import hashlib
import math

import duckdb
import pandas as pd
import pyarrow.dataset as pads

MASK = (1 << 64) - 1


def canon(v):
    """Stable text form of one value."""
    if v is None or v is pd.NaT:
        return "∅"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, decimal.Decimal):
        return "D" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return "T" + v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return "T" + datetime.datetime.combine(v, datetime.time()).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return "x" + v.hex()
    return "s" + str(v)


def of_frame(df):
    """Fingerprint of a pandas DataFrame. Both sides go through pandas, as
    in `tools/check.py`, so DuckDB's HUGEINT and DECIMAL results arrive as
    the float64 that `tools/check.py` compares."""
    cols = sorted(df.columns)
    total = 0
    for row in zip(*(list(df[c]) for c in cols)):
        h = hashlib.blake2b("\x1f".join(canon(v) for v in row).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) & MASK
    return [len(df), f"{total:016x}", cols]


def of_parquet_dir(path):
    return of_frame(pads.dataset(path, format="parquet").to_table().to_pandas())


def oracle(data_dir, sql_by_name, tables):
    """Fingerprints of each oracle SQL run in DuckDB over views named after
    the input tables."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return {n: of_frame(con.execute(sql).fetchdf()) for n, sql in sql_by_name.items()}
