"""The DuckDB oracle comparator ``query_interactive`` applies to every
registry query, with the same normalization as
``tests/test_queries_oracle.py``. A failed comparison marks its
operation as failed; nothing here passes silently.
"""

from __future__ import annotations

import datetime
import math


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_to_set(rows) -> list[tuple]:
    # key=repr: tuples mixing None with values are not orderable
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _near(a, b) -> bool:
    """Floats that differ only by a summation-order flip of a value the
    query rounded to cents (Spark and DuckDB add doubles in different
    orders, so ``round(sum(x), 2)`` can land one cent apart)."""
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 0.0101 and abs(a - b) <= 1e-6 * max(abs(a), abs(b), 1.0)
    return a == b


def compare_to_oracle(cols: list[str], rows: list[tuple], want) -> tuple[str, str]:
    """("ok" | "tie" | "fail", why) for a Spark result against the
    oracle's ``(columns, normalized rows)``. "tie" means every difference
    is a one-cent rounding flip of a float (see :func:`_near`); the
    workloads count and report ties."""
    want_cols, want_rows = want
    if cols != want_cols:
        return "fail", f"columns {cols} != {want_cols}"
    if not rows:
        return "fail", "empty result"
    if len(rows) != len(want_rows):
        return "fail", f"row count {len(rows)} != {len(want_rows)}"
    got = rows_to_set(rows)
    if got == want_rows:
        return "ok", ""
    diffs = [(a, b) for a, b in zip(got, want_rows) if a != b]
    if all(len(a) == len(b) and all(map(_near, a, b)) for a, b in diffs):
        return "tie", f"rounding flips: {diffs[:2]}"
    return "fail", f"value mismatch, first diffs: {diffs[:2]}"


def oracle_answers(data_dir: str, sql: dict[str, str], tables) -> dict:
    """DuckDB answers for ``sql`` over the parquet tables in ``data_dir``."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, q in sql.items():
            res = con.execute(q)
            out[name] = ([d[0] for d in res.description],
                         rows_to_set(res.fetchall()))
        return out
    finally:
        con.close()
