"""Result canonicalisation and the DuckDB oracle.

A result is compared as its column names plus the multiset of its rows,
ignoring row order. Each value is reduced to a canonical form first:
floats by ``repr``, so any cross-engine drift in the last digit fails, as
in ``tools/oracle_sweep.py``; dates and timestamps by ISO text; structs and
arrays element by element.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
from pathlib import Path

from datagen import TABLES


def canon_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):  # arrays and structs (Row is a tuple)
        return [canon_value(x) for x in v]
    return repr(v)


def canon_rows(columns: list[str], rows) -> dict:
    body = sorted(json.dumps([canon_value(x) for x in r]) for r in rows)
    return {"columns": list(columns), "rows": body}


def oracle_results(input_dir: Path, oracles: dict[str, str]) -> dict[str, dict]:
    """Run each oracle SQL on DuckDB over the generated parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{input_dir / t}.parquet'"
            )
        out = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = canon_rows(cols, cur.fetchall())
        return out
    finally:
        con.close()


def diff(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if g != w:
            return f"row {g} != {w}"
    return None
