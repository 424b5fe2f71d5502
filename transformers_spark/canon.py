"""Result canonicalization for the DuckDB-oracle correctness gates.

Two canons, because the round driver and a naive fetchall comparison
disagree (round-3 lesson):

* :func:`normalize_rows` — native-type (fetchall / Row) canon: sort
  columns by name, stringify with 6-sig-fig float rounding. Tolerant;
  it is the SEMANTIC check.
* :func:`pandas_canon` — the DRIVER-faithful canon: both frames go
  through pandas (``sort_values`` over every column), so DuckDB
  HUGEINT→float64 coercion, array cells (unhashable ndarray), and
  int-vs-float dtype drift fail here exactly as they fail the driver's
  value hash.

Shared by ``tests/test_queries_oracle.py`` and the gate runner's
compare loop (``tools/gatelib.py``, run by ``tools/run_gates.py``) so
the local artifact and the test gate can never diverge again.
"""

from __future__ import annotations

import math

__all__ = [
    "normalize_rows",
    "pandas_canon",
    "duckdb_connect_views",
]


def normalize_rows(rows, columns):
    """Native-type canon: sort columns by name, then rows; stringify
    with float rounding (6 significant digits)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in idx) for r in rows)


def pandas_canon(pdf):
    """Driver-faithful canon: sort columns by name, pandas
    ``sort_values`` over every column (raises on unhashable cells like
    the driver), stringify with a type marker so int-vs-float dtype
    drift fails the comparison exactly like the driver's value hash.

    Dates and midnight timestamps normalize to the same string — Spark
    emits ``datetime.date`` objects where DuckDB's ``.df()`` renders
    DATE as datetime64 (verified equivalent in the driver's own green
    rows, e.g. ``windowed_daily_events`` r1-r3)."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    # Lowercase before sorting so column order matches the fetchall
    # canon (which lowercases) — DuckDB lowercases unquoted aliases
    # while Spark preserves case, and a case-dependent sort would align
    # the two frames on different column orders.
    pdf = pdf.rename(columns={c: c.lower() for c in pdf.columns})
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))

    def norm(v):
        # NaT is a datetime.datetime but NOT a pd.Timestamp — without
        # this singleton check a null DATE from DuckDB's .df()
        # (datetime64 + NaT) stringifies as "NaT" while Spark's null
        # date (object cell, None) yields "null": a false mismatch.
        if v is None or v is pd.NaT:
            return "null"
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (float, np.floating)):
            if math.isnan(v):
                return "null"
            return "f:" + f"{float(v):.6g}"
        if isinstance(v, decimal.Decimal):
            return "f:" + f"{float(v):.6g}"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, pd.Timestamp):
            if pd.isna(v):
                return "null"
            return str(v.to_pydatetime())
        if isinstance(v, datetime.datetime):
            return str(v)
        if isinstance(v, datetime.date):
            return f"{v} 00:00:00"
        return str(v)

    return [tuple(norm(v) for v in row) for row in pdf.itertuples(index=False)]


def duckdb_connect_views(sf_dir: str):
    """A DuckDB connection with every testdata table registered as a
    view, mirroring the driver's setup."""
    import duckdb

    from .sources.testdata import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    return con
