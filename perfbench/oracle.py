"""Expected answers and the check every collected result must pass.

Every benchmarked query has a DuckDB oracle; results are compared with
it through ``tools.check_parity.canon``, the parity gate's order-insensitive
view.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb

from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
from tools.check_parity import canon

from .inputs import TABLES


@dataclass(frozen=True)
class Expected:
    cols: tuple[str, ...]  # lower-cased, sorted
    rows: list[tuple]  # canon rows


def duck_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def expected_answers(queries: tuple[str, ...], data_dir: str) -> dict[str, Expected]:
    con = duck_con(data_dir)
    out = {}
    try:
        for name in queries:
            sql = REGISTRY[name].sql
            if sql is None:
                raise ValueError(f"{name} has no oracle to check it against")
            res = con.execute(sql)
            cols = [d[0].lower() for d in res.description]
            out[name] = Expected(tuple(sorted(cols)), canon(res.fetchall(), cols))
    finally:
        con.close()
    return out


def check(name: str, exp: Expected, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the result is right, else what is wrong with it."""
    if tuple(sorted(cols)) != exp.cols:
        return f"columns {sorted(cols)} != oracle {list(exp.cols)}"
    if len(rows) != len(exp.rows):
        return f"{len(rows)} rows != oracle {len(exp.rows)}"
    got = canon(rows, cols)
    bad = [(a, b) for a, b in zip(got, exp.rows) if a != b]
    if bad:
        return f"{len(bad)} rows differ from the oracle; first: {bad[0]}"
    return None
