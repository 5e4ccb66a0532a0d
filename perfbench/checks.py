"""Result checks against DuckDB on the same parquet files.

A result is compared by row count, column names and an order-insensitive
checksum: the sum of a 64-bit hash over the text of every exact-typed
column of each row, plus sum/min/max of every floating-point column.
Floating-point aggregates depend on summation order, so those compare
within a relative tolerance; everything else compares exactly.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9
ABS_TOL = 1e-6
_FLOAT_TYPES = {"DOUBLE", "FLOAT", "REAL"}


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, the way the
    declared queries' DuckDB twins expect them."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _summary(con: duckdb.DuckDBPyConnection, rel: duckdb.DuckDBPyRelation) -> dict:
    names, types = rel.columns, [str(t) for t in rel.types]
    exact = [n for n, t in zip(names, types) if t not in _FLOAT_TYPES]
    floats = [n for n, t in zip(names, types) if t in _FLOAT_TYPES]
    parts = ["count(*)"]
    if exact:
        cells = ", ".join(f"coalesce(CAST(\"{n}\" AS VARCHAR), '<null>')" for n in exact)
        parts.append(f"coalesce(sum(hash(concat_ws('|', {cells}))::HUGEINT), 0)")
    for n in floats:
        parts += [f'sum("{n}")', f'min("{n}")', f'max("{n}")']
    row = rel.query("r", f"SELECT {', '.join(parts)} FROM r").fetchone()
    return {"columns": [n.lower() for n in names], "rows": row[0],
            "hash": row[1] if exact else 0, "floats": list(row[2 if exact else 1:])}


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def compare(con: duckdb.DuckDBPyConnection, got: pa.Table, oracle_sql: str) -> str | None:
    """None when `got` holds the same multiset of rows as the DuckDB
    query, else a one-line reason."""
    mine = _summary(con, con.from_arrow(got))
    theirs = _summary(con, con.sql(oracle_sql))
    if mine["columns"] != theirs["columns"]:
        return f"columns {mine['columns']} != {theirs['columns']}"
    if mine["rows"] != theirs["rows"]:
        return f"rows {mine['rows']} != {theirs['rows']}"
    if mine["hash"] != theirs["hash"]:
        return "checksum of exact columns differs"
    if not all(_close(a, b) for a, b in zip(mine["floats"], theirs["floats"])):
        return f"float aggregates {mine['floats']} != {theirs['floats']}"
    return None


def is_ordered(table: pa.Table, keys: list[tuple[str, str]]) -> bool:
    """True when rows are in ORDER BY order of `keys`
    ([(column, 'ascending' | 'descending')]). Arrow's sort is stable, so
    already-ordered rows sort to the identity permutation."""
    idx = pc.sort_indices(table, sort_keys=keys)
    return idx.equals(pa.array(range(table.num_rows), type=idx.type))

