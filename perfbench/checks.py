"""Output checks, run outside the timed region.

Steps with a DuckDB oracle are compared by row count, column names and the
order-insensitive row/value hash of ``tools/check_correctness.py`` (its
``table_hash``, imported), so a hash that matches here matches there.
The stream is compared with its batch twin, the streamed legacy events
with the day's input, and published marts with the oracle of the day they
were built for.
"""

from __future__ import annotations

import os
import sys

# check_correctness puts its home checkout's absolute path first on
# sys.path; restore the path so that the engine package is imported from
# the checkout being measured
_path = list(sys.path)
from tools.check_correctness import table_hash  # noqa: E402

sys.path[:] = _path

# mart columns stamped with the run date rather than computed from data
STAMP_COLUMNS = {"day_dt", "load_tstmp"}


def summarize(columns: list[str], rows: list[dict], exclude=()) -> dict:
    """Row count, sorted column names and order-insensitive value hash."""
    cols = sorted(c for c in columns if c not in exclude)
    return {"n": len(rows), "columns": cols, "hash": table_hash(rows, cols)}


def duck(tables_dir: str):
    """A DuckDB connection with one view per table file or directory."""
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(tables_dir)):
        path = os.path.join(tables_dir, name)
        if not name.endswith(".parquet"):
            continue
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{glob}')")
    return con


def oracle(con, sql: str, exclude=()) -> dict:
    rel = con.execute(sql)
    cols = [d[0].lower() for d in rel.description]
    return summarize(cols, [dict(zip(cols, row)) for row in rel.fetchall()], exclude)


def compare(name: str, got: dict, want: dict) -> list[str]:
    problems = []
    if got["n"] != want["n"]:
        problems.append(f"{name}: rows {got['n']} != {want['n']}")
    if got["columns"] != want["columns"]:
        problems.append(f"{name}: columns {got['columns']} != {want['columns']}")
    elif got["hash"] != want["hash"]:
        problems.append(f"{name}: value hash mismatch")
    return problems
