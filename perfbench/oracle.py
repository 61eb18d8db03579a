"""Output checks: Spark results against DuckDB, and served index results
against a live rebuild.

``multiset_diff`` applies the rule of ``scripts/oracle_check.py`` (equal
row count, equal column names, equal multiset of canonical rows) inside
DuckDB, so a check of a million-row result takes about a second instead
of a minute of Python formatting.  The canonical form is that script's
``canon``: NULL and NaN become ``∅``, floats print with six decimals
(``-0.0`` as ``0.0``), booleans as ``0``/``1``, timestamps as
``YYYY-MM-DD HH:MM:SS.ffffff``; a row joins its columns in name order
with ``|``.  ``selftest.py`` checks this form against that script.

One tolerance is added to that rule: rows that differ only by one unit
in the sixth decimal of some cells count as equal.  The two sides compute
floats by different algorithms, so a value on a rounding boundary can
print either way (one AR(1) fit in the 100k-event input of seed 7 does).
"""

from __future__ import annotations

import hashlib
import os

import duckdb

TABLES = ("events", "documents", "embeddings")


def connect(data_dir: str | None = None):
    """A small DuckDB connection with views over the generated tables."""
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'; SET threads=2; "
                "SET TimeZone='UTC'")
    for t in TABLES if data_dir else ():
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(col: str, dtype: str) -> str:
    c = '"' + col.replace('"', '""') + '"'
    t = dtype.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return (f"CASE WHEN {c} IS NULL OR isnan({c}::DOUBLE) THEN '∅' "
                f"ELSE printf('%.6f', CASE WHEN {c} = 0 THEN 0.0 "
                f"ELSE {c}::DOUBLE END) END")
    if t == "BOOLEAN":
        return f"coalesce(CAST(CAST({c} AS INT) AS VARCHAR), '∅')"
    if t.startswith("TIMESTAMP"):
        return (f"coalesce(strftime(CAST({c} AS TIMESTAMP), "
                f"'%Y-%m-%d %H:%M:%S.%f'), '∅')")
    if t == "DATE":
        return (f"coalesce(strftime({c}, '%Y-%m-%d') || ' 00:00:00.000000',"
                " '∅')")
    return f"coalesce(CAST({c} AS VARCHAR), '∅')"


def _canon_rows(con, relation: str) -> str:
    """SQL selecting one canonical string per row of ``relation``."""
    desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((name, dtype) for name, dtype, *_ in desc)
    body = " || '|' || ".join(_canon(n, t) for n, t in cols) or "''"
    return f"SELECT {body} AS k FROM {relation}"


MAX_NEAR_ROWS = 1000


def _near(a: str, b: str) -> bool:
    """Two canonical cells equal, or floats one sixth-decimal unit apart."""
    if a == b:
        return True
    try:
        return abs(float(a) - float(b)) < 1.5e-6
    except ValueError:
        return False


def _pair_near(only_s, only_o) -> bool:
    """Whether each row only in one side pairs with a row only in the other
    whose cells are all ``_near``."""
    left = [k.split("|") for (k,) in only_o]
    for (k,) in only_s:
        cells = k.split("|")
        match = next((i for i, o in enumerate(left) if len(o) == len(cells)
                      and all(map(_near, cells, o))), None)
        if match is None:
            return False
        left.pop(match)
    return not left


def multiset_diff(con, spark_arrow, oracle_sql: str) -> str | None:
    """Compare a Spark result (a pyarrow Table) with an oracle query.
    Returns None when they agree, else a one-line reason."""
    con.register("spark_out", spark_arrow)
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_out AS {oracle_sql}")
    try:
        scols = sorted(spark_arrow.column_names)
        ocols = sorted(d[0] for d in con.execute(
            "SELECT * FROM oracle_out LIMIT 0").description)
        if scols != ocols:
            return f"columns {scols} != {ocols}"
        srows = spark_arrow.num_rows
        orows = con.execute("SELECT count(*) FROM oracle_out").fetchone()[0]
        if srows != orows:
            return f"row count {srows} != {orows}"
        s, o = _canon_rows(con, "spark_out"), _canon_rows(con, "oracle_out")
        only_s, only_o = con.execute(
            f"WITH s AS ({s}), o AS ({o}) SELECT "
            "(SELECT count(*) FROM (SELECT k FROM s EXCEPT ALL "
            "SELECT k FROM o)), "
            "(SELECT count(*) FROM (SELECT k FROM o EXCEPT ALL "
            "SELECT k FROM s))").fetchone()
        if only_s != only_o or only_s > MAX_NEAR_ROWS or not _pair_near(
                con.execute(f"WITH s AS ({s}), o AS ({o}) SELECT k FROM s "
                            "EXCEPT ALL SELECT k FROM o").fetchall(),
                con.execute(f"WITH s AS ({s}), o AS ({o}) SELECT k FROM o "
                            "EXCEPT ALL SELECT k FROM s").fetchall()):
            return f"{only_s} rows only in spark, {only_o} only in oracle"
        return None
    finally:
        con.unregister("spark_out")
        con.execute("DROP VIEW IF EXISTS oracle_out")


def rows_hash(rows) -> str:
    """Order-insensitive hash of collected rows (tuples of plain values;
    floats rounded to 9 decimals so summation order cannot flip it)."""
    def cell(v):
        return f"{v:.9f}" if isinstance(v, float) else repr(v)
    keys = sorted("|".join(cell(v) for v in tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()
