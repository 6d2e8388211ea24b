"""Result fingerprints for the suite output check.

The normalization follows tools/oracle_check.py: columns sorted by name,
rows sorted by all columns, values compared exactly. Spark's parquet output
and DuckDB's result frame type some values differently (decimal vs double,
date vs timestamp, numpy arrays vs lists), so every cell is first written in
one canonical text form; the fingerprint hashes the column names and the
sorted canonical rows.
"""
import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "\\N"
        if math.isfinite(f) and f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return repr(f)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "\\N"
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in sorted(v.items(), key=lambda kv: cell(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    return str(v)


def fingerprint(df):
    """(sha256 hex, row count) of a result frame."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest(), len(rows)
