"""Order-independent result digest, shared by the check and its generator.

A result becomes (row count, sha256). Columns are taken in sorted name
order and rows are sorted after each value is rendered canonically, the
same normalization the oracle-parity tests apply before they compare
frames. Rendering erases the differences between engines that are not
differences in value: int vs integral float, Decimal vs float, numpy vs
list arrays, NaN vs None. Floats keep 12 significant digits.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.12g}"
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        return "null" if pd.isna(v) else pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row inside an array or struct
        return _canon(v.asDict())
    if v is pd.NaT or v is pd.NA:
        return "null"
    return str(v)


def digest(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}
