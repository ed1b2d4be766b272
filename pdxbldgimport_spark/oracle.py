"""The engine-vs-oracle check: DuckDB views over an sf dir, and an exact,
order-insensitive diff of a Spark result against its oracle's result.

Every query's Spark form must match its DuckDB oracle value for value.
The test suite and ``tools/evidence.py`` both go through this module, so
there is one canonicalization: columns sorted by name, every value as its
``repr`` (which tells ``'1'`` from ``1`` and ``None`` from ``NaN``), rows
sorted on those strings.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from .synth import TABLES


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table of ``sf_dir``;
    the oracle SQL reads these by name."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values as ``repr``, rows sorted."""
    df = df[sorted(df.columns)].map(repr)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when ``got`` equals ``want`` up to row and column order;
    otherwise a message naming ROWS, SCHEMA or the first column that
    differs, with up to 3 of its differing rows."""
    if len(got) != len(want):
        return f"ROWS {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"SCHEMA {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        bad = (a[c].to_numpy() != b[c].to_numpy()).nonzero()[0][:3]
        if len(bad):
            return (
                f"column {c!r} rows {bad.tolist()}: "
                f"{a[c].iloc[bad].tolist()} != {b[c].iloc[bad].tolist()}"
            )
    return None
