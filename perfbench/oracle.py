"""Output check: a query's result against its DuckDB oracle twin.

The normalisation is the one the project's oracle-parity tests use: sort
the columns by name, round floats to 6 places, sort the rows, compare
floats with a 1e-9 tolerance, and require the same coarse dtype kind per
column (an int column that the oracle returns as float is a mismatch).
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def _normalize(rows, columns) -> list[tuple]:
    out = []
    for row in rows:
        norm = []
        for col in sorted(columns):
            v = row[col]
            if hasattr(v, "item"):  # numpy scalar
                v = v.item()
            if isinstance(v, float):
                v = round(v, 6)
            norm.append(v)
        out.append(tuple(norm))
    out.sort(key=repr)
    return out


def _values_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _column_kind(series) -> str | None:
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    non_null = series.dropna()
    if non_null.empty:
        return None
    v = non_null.iloc[0]
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return "obj"


def mismatch(got, want) -> str | None:
    """Compare two pandas frames; return None when they agree, else a
    one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    want = want[list(got.columns)]
    for col in got.columns:
        gk, wk = _column_kind(got[col]), _column_kind(want[col])
        if gk is not None and wk is not None and gk != wk:
            return f"column {col}: dtype kind {gk} vs oracle {wk}"
    got_rows = _normalize(got.to_dict("records"), got.columns)
    want_rows = _normalize(want.to_dict("records"), want.columns)
    for g, w in zip(got_rows, want_rows):
        if not all(_values_close(x, y) for x, y in zip(g, w)):
            return f"first differing row {g} vs oracle {w}"
    return None
