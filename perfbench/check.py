"""Output checks shared by the benchmark and the expected-value generator.

A result is reduced to its row count and an order-independent SHA-256 of
its rows, canonicalized the way the oracle tests compare engine and
DuckDB results: columns sorted by name, nulls as ``«NULL»``, every value
as ``str``, rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
NULL = "«NULL»"


def digest(pdf) -> dict:
    cols = sorted(pdf.columns)
    values = [pdf[c].fillna(NULL).astype(str).tolist() for c in cols]
    rows = sorted("\x1f".join(t) for t in zip(*values))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def sf_dir(sf: str) -> str:
    path = os.path.join(DATA, sf)
    if not os.path.isdir(path):
        raise SystemExit(f"perfbench: no input tables for {sf!r} under {DATA}")
    return path


def load_expected(path: str, sf: str) -> dict:
    with open(path) as f:
        return json.load(f)["results"][sf]


def load_pipeline_rows(path: str, sf: str) -> dict:
    with open(path) as f:
        return json.load(f)["pipeline_rows"][sf]


def duck_views(sf: str):
    """A DuckDB connection over the benchmark's copy of the input tables,
    with the views the registry's oracle SQL reads."""
    import duckdb

    from pdxbldgimport_spark.synth import TABLES

    con = duckdb.connect()
    d = sf_dir(sf)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con
