"""Exact-rank quantile oracle, computed in DuckDB from the generated parquet.

The rule is ``sorted(x)[int(q * (n - 1))]`` per group, the same as
``tests/datasets.py::exact_quantile``. ``q * (n - 1)`` is evaluated in
DOUBLE so the truncation matches Python's float product exactly (a DuckDB
decimal literal would round differently on exact-integer edges).
"""

from __future__ import annotations

from typing import Iterable

QUANTILES = {"q50": 0.5, "q95": 0.95, "q99": 0.99}


def exact_quantiles_sql(
    source: str,
    group_exprs: dict[str, str],
    value_expr: str,
    quantiles: dict[str, float] = QUANTILES,
) -> str:
    """SQL giving one row per group: the group columns, ``n`` and one
    column per named quantile. ``source`` is any FROM-clause item (a
    ``read_parquet(...)`` call or a table name); ``group_exprs`` maps output
    names to SQL expressions over it."""
    if not group_exprs:
        raise ValueError("exact_quantiles_sql needs at least one group column")
    gsel = ", ".join(f"{expr} AS {name}" for name, expr in group_exprs.items())
    gnames = ", ".join(group_exprs)
    picks = ", ".join(
        f"max(CASE WHEN rk = CAST(floor(CAST({float(q)!r} AS DOUBLE) * "
        f"CAST(n - 1 AS DOUBLE)) AS BIGINT) THEN v END) AS {name}"
        for name, q in quantiles.items()
    )
    return (
        f"WITH src AS (SELECT {gsel}, CAST({value_expr} AS DOUBLE) AS v "
        f"FROM {source}), "
        f"ranked AS (SELECT {gnames}, v, "
        f"row_number() OVER (PARTITION BY {gnames} ORDER BY v) - 1 AS rk, "
        f"count(*) OVER (PARTITION BY {gnames}) AS n FROM src WHERE v IS NOT NULL) "
        f"SELECT {gnames}, max(n) AS n, {picks} FROM ranked GROUP BY {gnames}"
    )


def parquet_source(paths: Iterable[str]) -> str:
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_parquet([{quoted}])"


def exact_quantiles(
    paths: Iterable[str],
    group_exprs: dict[str, str],
    value_expr: str,
    quantiles: dict[str, float] = QUANTILES,
) -> dict[tuple, dict[str, float]]:
    """{group tuple: {"n": count, "q50": ..., ...}} from DuckDB."""
    import duckdb

    sql = exact_quantiles_sql(
        parquet_source(paths), group_exprs, value_expr, quantiles
    )
    con = duckdb.connect()
    try:
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    k = len(group_exprs)
    return {
        tuple(r[:k]): dict(zip(names[k:], r[k:])) for r in rows
    }


def max_relative_error(
    estimates: dict[tuple, dict[str, float]],
    exact: dict[tuple, dict[str, float]],
    quantiles: Iterable[str] = tuple(QUANTILES),
) -> float:
    """Largest |est - exact| / |exact| over every group and quantile.
    A group or quantile missing from ``estimates`` counts as infinite
    error."""
    worst = 0.0
    for key, ex in exact.items():
        est = estimates.get(key)
        for q in quantiles:
            if est is None or est.get(q) is None:
                return float("inf")
            err = abs(est[q] - ex[q]) / abs(ex[q]) if ex[q] else abs(est[q])
            worst = max(worst, err)
    return worst
