"""DuckDB-oracle comparison harness (local mirror of the driver's t2 gate).

The reference has no golden-output corpus (SURVEY.md §5); its canonical
correctness artifacts are TPC-H Q1/Q12 plan tests. Our analogue, per
BASELINE.md, is value-level comparison against DuckDB on the synthetic
tables. This module mimics the driver: row count, column names, and an
order-insensitive value comparison (exact after canonicalization — queries
are written to be deterministic, with explicit rounding on
order-of-accumulation-sensitive float aggregates).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .tables import TABLES as TABLE_NAMES  # one list for BOTH engines


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class DriverUnsafeCell(TypeError):
    """A result cell the grading driver's pandas canonicalization cannot
    sort/hash (array/map/struct) or renders engine-dependently (Decimal
    vs float64). ``compare_strict`` reports it as a failed query."""


def _strict_render(v) -> str:
    """Driver-faithful cell rendering: the grading harness compares the
    pandas form of both result sets (Spark ``toPandas`` vs DuckDB
    ``.df()``), where containers crash the sort (``unhashable type:
    'list'``, CORRECTNESS_r03) and Spark's ``Decimal('20828.00')`` never
    string-matches DuckDB's float64 ``20828.0``. The comparison therefore
    REJECTS containers and Decimals outright — oracle-backed queries
    must pre-render them (array_join / CAST AS STRING) on both engines."""
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise DriverUnsafeCell(f"container cell {type(v).__name__}: {str(v)[:80]}")
    if isinstance(v, decimal.Decimal):
        raise DriverUnsafeCell(f"Decimal cell {v} (render differs between engines)")
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f == 0.0:
            return "0"
        return repr(round(f, 9))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        # Spark's toPandas yields datetime64 where DuckDB may yield date
        # (and vice versa); midnight timestamps render as bare dates so
        # the two framings agree.
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None) if isinstance(v, pd.Timestamp) else v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.strftime("%Y-%m-%d")
        return v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _strict_frame(pdf) -> list[tuple]:
    """Canonicalize a pandas frame the way the driver does: lowercase
    column names, column-sort, render every cell (raising on
    driver-unsafe types), then row-sort the rendered tuples."""
    cols = sorted(str(c).lower() for c in pdf.columns)
    pdf = pdf.copy()
    pdf.columns = [str(c).lower() for c in pdf.columns]
    pdf = pdf[cols]
    rows = [
        tuple(_strict_render(v) for v in r)
        for r in pdf.itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""

    def __str__(self) -> str:
        s = "OK " if self.ok else "FAIL"
        return f"[{s}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows} {self.detail}"


def compare_strict(
    name: str,
    spark_df: DataFrame,
    oracle_sql: str | None,
    con: duckdb.DuckDBPyConnection,
) -> CompareResult:
    """Driver-faithful comparison, the only one: both result sets go
    through pandas exactly like the grading harness (Spark ``toPandas`` /
    DuckDB ``.df()``), and any cell the driver cannot canonicalize FAILS
    the query here first. A query without oracle SQL passes on rows > 0,
    the driver's weaker rows-only check."""
    s_pdf = spark_df.toPandas()
    if oracle_sql is None:
        return CompareResult(name, len(s_pdf) > 0, len(s_pdf), -1, "rows-only")
    o_pdf = con.sql(oracle_sql).df()
    s_cols = sorted(str(c).lower() for c in s_pdf.columns)
    o_cols = sorted(str(c).lower() for c in o_pdf.columns)
    if s_cols != o_cols:
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf), f"schema: spark={s_cols} oracle={o_cols}"
        )
    if len(s_pdf) != len(o_pdf):
        return CompareResult(name, False, len(s_pdf), len(o_pdf), "row count mismatch")
    try:
        sc = _strict_frame(s_pdf)
    except DriverUnsafeCell as e:
        return CompareResult(name, False, len(s_pdf), len(o_pdf), f"spark side: {e}")
    try:
        oc = _strict_frame(o_pdf)
    except DriverUnsafeCell as e:
        return CompareResult(name, False, len(s_pdf), len(o_pdf), f"oracle side: {e}")
    if sc != oc:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(sc, oc)) if a != b)
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf),
            f"strict value mismatch at sorted-row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}",
        )
    return CompareResult(name, True, len(s_pdf), len(o_pdf))
