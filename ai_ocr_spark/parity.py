"""Cross-engine parity canon: the one definition of "a Spark query
result equals its DuckDB twin", shared by `tools/check_oracle.py` and
the Tier-1 parity test.

Two results are equal when row count, sorted column names, per-column
dtype kinds and an order-insensitive hash of repr-exact cell values all
match (`canon_df`).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per TABLES parquet in sf_dir
    (tables the dir lacks are skipped)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon_cell(v) -> str:
    """Dtype-faithful canonical form of one cell.

    Floats canonicalize via repr() — full precision, `0.0` stays `0.0`
    and never equals int `0`. Collapsing integral floats to ints or
    formatting at 9 significant digits would mask drift such as DuckDB
    sum(INTEGER) -> HUGEINT -> pandas float64 against a Spark long.
    """
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return repr(v)
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def _canon_value(v):
    """Normalize pandas/numpy scalars before canon_cell (shared by the
    hash path and the debug-diff path so they can never disagree)."""
    import numpy as np
    import pandas as pd

    if (
        (isinstance(v, float) and pd.isna(v))
        or v is pd.NaT
        or v is None
        or (isinstance(v, np.floating) and np.isnan(v))
    ):
        return None
    return v.item() if isinstance(v, np.generic) else v


def canon_row(tup) -> str:
    return "\x1f".join(canon_cell(_canon_value(v)) for v in tup)


def canon_rows(pdf) -> list[str]:
    """Sorted canonical rows over the sorted columns."""
    rows = pdf[sorted(pdf.columns)].itertuples(index=False, name=None)
    return sorted(canon_row(tup) for tup in rows)


def canon_df(pdf) -> tuple[int, list[str], list[str], str]:
    """Row count, sorted columns, per-column dtype kinds, value hash.

    Kinds (numpy kind chars: i=int, f=float, b=bool, M=datetime,
    O=object) catch engine-side type drift even when every value
    happens to render identically; kind (not full dtype) avoids false
    alarms on datetime64[ns] vs datetime64[us] resolution."""
    cols = sorted(pdf.columns)
    kinds = [pdf[c].dtype.kind for c in cols]
    rows = canon_rows(pdf)
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, kinds, h


def first_diff(sdf, odf) -> tuple[str, str] | None:
    """The first differing (spark, duckdb) canonical row pair, for
    results of equal length and columns."""
    for a, b in zip(canon_rows(sdf), canon_rows(odf)):
        if a != b:
            return a, b
    return None
