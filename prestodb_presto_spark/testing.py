"""Differential-testing utilities (the reference's H2QueryRunner pattern —
presto-tests/.../H2QueryRunner.java:88, QueryAssertions.java:75 — with
DuckDB as the oracle).
"""

from __future__ import annotations

import math

import duckdb

from prestodb_presto_spark.engine import TABLES


def norm_cell(v):
    """Normalize one cell for order-insensitive, precision-aware compare."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        if v == 0:
            return ("f", 0.0)
        # 9 significant digits — tolerant of last-ulp noise, strict otherwise
        return ("f", round(v, 9 - 1 - int(math.floor(math.log10(abs(v))))) if abs(v) > 1e-300 else 0.0)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    if v is None:
        return ("n",)
    return ("s", str(v))


def norm_rows(cols, rows):
    """Sort columns by name, then rows — orderless multiset compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def duckdb_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table registered as a view."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def compare(sdf, con, oracle_sql: str) -> str | None:
    """Run Spark DF + oracle SQL, compare; returns None or error string."""
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle_sql)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    if sorted(scols) != sorted(ocols):
        return f"columns {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return f"value mismatch, e.g. {diff}"
    return None


def _tolerant_cell(v):
    """Canonical cell where every numeric (Decimal AND float) carries a
    6-significant-digit sort key plus the raw value — engines pick
    different result scales for decimal avg/division, and one may hand
    the value back as float where the other keeps Decimal."""
    import decimal

    if isinstance(v, (decimal.Decimal, float)) and not isinstance(v, bool):
        f = float(v)
        if f == 0 or not math.isfinite(f):
            return ("f", 0.0 if f == 0 else str(f), f)
        return ("f", round(f, 6 - 1 - int(math.floor(math.log10(abs(f))))), f)
    return norm_cell(v)


def compare_tolerant(sdf, con, oracle_sql: str) -> str | None:
    """Positional compare with numeric tolerance: Decimal/float unify,
    rounded to 6 significant digits for pairing and checked against the
    raw values at rel 1e-5 / abs 2e-6 (one scale-6 truncation step)."""
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle_sql)
    orows = res.fetchall()
    if len(sdf.columns) != len(res.description):
        return f"column count {len(sdf.columns)} vs {len(res.description)}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    a = sorted(tuple(_tolerant_cell(v) for v in r) for r in srows)
    b = sorted(tuple(_tolerant_cell(v) for v in r) for r in orows)

    def cell_ok(x, y):
        if x == y:
            return True
        if x[0] == y[0] == "f" and len(x) == len(y) == 3:
            return math.isclose(x[2], y[2], rel_tol=1e-5, abs_tol=2e-6)
        return False

    bad = [
        (x, y)
        for x, y in zip(a, b)
        if not (len(x) == len(y) and all(cell_ok(u, v) for u, v in zip(x, y)))
    ][:2]
    if bad:
        return f"value mismatch, e.g. {bad}"
    return None
