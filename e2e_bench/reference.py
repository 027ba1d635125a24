"""Reference computations that do not share the program's code path:
the generator's planted goldens, a plain-Python tokenizer and CSV
renderer, and DuckDB over the committed parquet."""

from __future__ import annotations

import json
import math
import os
import re

_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def tokens(text: str | None) -> list[str]:
    """Lower-case, split on non-alphanumerics, drop empties — the
    tokenizer contract the serving tables document."""
    return [t for t in _TOKEN_SPLIT.split((text or "").lower()) if t]


def render_csv(grid: list[list[str]]) -> str:
    def cell(c: str) -> str:
        if any(ch in c for ch in ',"\n\r'):
            return '"' + c.replace('"', '""') + '"'
        return c

    return "\n".join(",".join(cell(c) for c in row) for row in grid)


def read_parquet_dir(path: str, columns: list[str] | None = None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns)


def read_manifest(warehouse: str, table: str) -> dict:
    with open(os.path.join(warehouse, table, "_manifest.json")) as f:
        return json.load(f)


def table_glob(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, table, "data", "**", "*.parquet")


def duck(views: dict[str, str]):
    """DuckDB connection with one view per {name: parquet glob}."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, pattern in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')")
    return con


def canon_cell(v):
    """Cell canonicalization of the oracle-parity test suite: floats
    rounded to 9 places, NaN and NULL spelled out."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def canon_frame(pdf) -> tuple[list[str], list[tuple]]:
    """pandas frame → (sorted column names, sorted canonical rows), the
    order-insensitive form both engines' results are compared in."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows
