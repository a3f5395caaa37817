"""Result comparison against the DuckDB oracle.

The canonical form is the one the engine's oracle-parity tests use:
columns sorted by name, every value normalised (floats by ``repr``,
NaN as NULL, timestamps as ISO text, lists as tuples), rows sorted.
Floats must match exactly.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

from building_energy_data_pipeline_spark.sources.readers import TPCH_TABLES


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return v


def canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def duck_con(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    bad = [(a, b) for a, b in zip(canon(got), canon(want)) if a != b]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None
