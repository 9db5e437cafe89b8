"""Order-insensitive result hashes for the corpus operators' output
checks: a Spark result and its DuckDB ``oracle_sql()`` twin must give
the same hash over the same parquet.

Both sides go through pandas and are rendered cell by cell: integers
and floats render differently (``1`` vs ``1.0``), Decimals compare as
floats, timestamps as naive UTC and midnight timestamps as dates.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if v.tzinfo is not None:
            v = pd.Timestamp(v).tz_convert("UTC").tz_localize(None)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def frame_hash(pdf) -> tuple:
    """``(row count, sorted column names, sha256 of the sorted rows)``."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "\x1f".join(_cell(row[c]) for c in cols) for row in pdf.to_dict("records")
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8") + b"\n")
    return len(lines), cols, h.hexdigest()


def duckdb_views(data_dir: str, tables) -> "object":
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con
