"""DuckDB side of the output checks: the engine's registered oracle SQL run
over the same parquet files the timed Spark calls read."""

from __future__ import annotations

import math

import duckdb

from graphdb_neo4j_spark.sources.tpch import TABLES


def connect(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table present in ``data_dir``.
    ``temp_dir`` keeps DuckDB's spill files out of the working directory."""
    import os

    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 2})
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isfinite(v):
        return round(v, 6)
    return v


def rows_by_name(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and floats rounded, sorted — the
    order-insensitive form both sides are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


def same_as_oracle(con, sql: str, cols: list[str], rows) -> bool:
    """Rows collected from Spark equal the oracle's result as a multiset."""
    cur = con.execute(sql)
    duck_cols = [d[0] for d in cur.description]
    return rows_by_name(duck_cols, cur.fetchall()) == rows_by_name(cols, rows)
