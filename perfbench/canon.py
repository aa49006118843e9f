"""Order-insensitive value hash of a query result.

Canonicalised as the repo's full-registry correctness check
(``scripts/full_correctness.py::_compare``) compares results: columns by
name, rows by all columns, integers and floats kept apart by kind, floats
bit-exact (NaN equal to NaN, -0.0 equal to 0.0), and missing values
distinct from any value.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

import numpy as np
import pandas as pd


def _cell(v):
    """One cell as a (kind, value) pair that sorts and prints stably."""
    if v is None or v is pd.NaT or v is pd.NA:
        return ("0", "")
    if isinstance(v, (bool, np.bool_)):
        return ("b", int(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return ("f", "nan")
        return ("f", (0.0 if f == 0.0 else f).hex())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, bytes):
        return ("y", v.hex())
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("t", ts.value // 1000)
    if isinstance(v, datetime.datetime):
        return _cell(pd.Timestamp(v))
    if isinstance(v, datetime.date):
        return ("D", v.isoformat())
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _cell(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_cell(x) for x in v))
    return ("r", repr(v))


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    frame = pdf[cols]
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in frame.itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()
