"""Check a query's Spark output against its registry oracle in DuckDB.

The rules follow the repository's pandas comparator (tests/compare.py)
but run inside DuckDB, so a million-row output is checked in seconds:

- the same column names;
- no column that is integer on one side and floating on the other
  (the driver hashes raw values, so 41 and 41.0 differ);
- the same row count;
- the same rows, order-insensitive: both sides are sorted on every
  column and paired by rank; floats match within rtol 1e-6 plus
  atol 1e-9, NaN counts as NULL, and -0.0 equals 0.0.
"""

from __future__ import annotations

import os

import duckdb

_INT_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_FLOAT_TYPES = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT"}


def _is_float(t: str) -> bool:
    return t in _FLOAT_TYPES or t.startswith("DECIMAL")


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _columns(con, table: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {table}").fetchall()}


def _kind(con, table: str, col: str, typ: str, spark_side: bool) -> str | None:
    """The pandas dtype kind each side lands on: ints with NULLs and
    (oracle-side) HUGEINT/DECIMAL become float64; Spark decimals
    become objects, which the comparator skips."""
    if typ in _INT_TYPES:
        nulls = con.execute(
            f'SELECT count(*) - count("{col}") FROM {table}'
        ).fetchone()[0]
        return "float" if nulls else "int"
    if typ.startswith("DECIMAL"):
        return None if spark_side else "float"
    if typ in _FLOAT_TYPES:
        return "float"
    return None


def _norm(col: str, typ: str) -> str:
    c = f'"{col}"'
    if _is_float(typ):
        # NaN -> NULL; adding 0.0 folds -0.0 into 0.0
        return f"(CASE WHEN isnan({c}::DOUBLE) THEN NULL ELSE {c}::DOUBLE + 0.0 END)"
    if typ.startswith("TIMESTAMP WITH TIME ZONE"):
        return f"{c}::TIMESTAMP"
    return c


def check(con, spark_arrow, oracle_sql: str) -> str | None:
    """None when the Spark output (a pyarrow Table) matches the
    oracle, else a one-line reason."""
    con.register("spark_out", spark_arrow)
    try:
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE oracle_out AS {oracle_sql.strip().rstrip(';')}"
        )
        s_cols, o_cols = _columns(con, "spark_out"), _columns(con, "oracle_out")
        if sorted(s_cols) != sorted(o_cols):
            return f"columns {sorted(s_cols)} vs oracle {sorted(o_cols)}"
        cols = sorted(s_cols)
        for c in cols:
            sk = _kind(con, "spark_out", c, s_cols[c], True)
            ok = _kind(con, "oracle_out", c, o_cols[c], False)
            if sk and ok and sk != ok:
                return f"column {c}: {s_cols[c]} vs oracle {o_cols[c]} (int/float drift)"
        n_s = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
        n_o = con.execute("SELECT count(*) FROM oracle_out").fetchone()[0]
        if n_s != n_o:
            return f"row count {n_s} vs oracle {n_o}"
        if n_s == 0:
            return None
        floats = {c for c in cols if _is_float(s_cols[c]) or _is_float(o_cols[c])}

        def ranked(table: str, types: dict[str, str]) -> str:
            norm = {c: _norm(c, "DOUBLE" if c in floats else types[c]) for c in cols}
            # floats sort by their 4-dp value first, then exactly, so
            # last-digit noise cannot reorder otherwise-equal rows
            keys = [f"round({norm[c]}, 4)" if c in floats else norm[c] for c in cols]
            keys += [norm[c] for c in cols if c in floats]
            sel = ", ".join(f'{norm[c]} AS "{c}"' for c in cols)
            return (
                f"SELECT {sel}, row_number() OVER (ORDER BY {', '.join(keys)}) AS rn "
                f"FROM {table}"
            )

        def differs(c: str) -> str:
            a, b = f's."{c}"', f'o."{c}"'
            if c in floats:
                return (
                    f"(CASE WHEN {a} IS NULL OR {b} IS NULL "
                    f"THEN ({a} IS NULL) <> ({b} IS NULL) "
                    f"ELSE abs({a} - {b}) > 1e-9 + 1e-6 * abs({b}) END)"
                )
            return f"{a} IS DISTINCT FROM {b}"

        bad = con.execute(
            f"SELECT count(*) FROM ({ranked('spark_out', s_cols)}) s "
            f"JOIN ({ranked('oracle_out', o_cols)}) o USING (rn) "
            f"WHERE {' OR '.join(differs(c) for c in cols)}"
        ).fetchone()[0]
        return f"{bad} of {n_s} rows differ" if bad else None
    finally:
        con.unregister("spark_out")
        con.execute("DROP TABLE IF EXISTS oracle_out")
