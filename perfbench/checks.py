"""Output checks against DuckDB, run outside the timed region.

Registry queries are compared with their own oracle SQL over the same
parquet files. Medallion outputs are compared with the reference pipeline's
SQL (silver CTE, gold COUNT/SUM hierarchy) run by DuckDB over the same
bronze JSON files. Values are normalized as ``tools/replica.py`` does.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from tools.replica import TABLES, norm

_RAW_COLS = ("id", "name", "brewery_type", "city", "state_province", "state", "postal_code", "country", "longitude", "latitude")


def same_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> str | None:
    """None when both results hold the same multiset of rows over the same
    column set (order-insensitive), else the reason they differ."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    a = sorted(tuple(norm(r[i]) for i in ia) for r in rows_a)
    b = sorted(tuple(norm(r[i]) for i in ib) for r in rows_b)
    if a != b:
        diff = sum(1 for x, y in zip(a, b) if x != y)
        return f"values differ in {diff} sorted rows"
    return None


def oracle_connection(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def query_check(con, sql: str, cols: list[str], rows) -> str | None:
    rel = con.sql(sql)
    return same_rows(cols, rows, [d[0] for d in rel.description], rel.fetchall())


def output_check(con, path: str, cols: list[str], ref_sql: str, where: str = "TRUE") -> str | None:
    """Compare a hive-partitioned parquet output directory, read by DuckDB,
    with the rows of ``ref_sql``."""
    got = con.sql(
        f"SELECT {', '.join(cols)} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true) WHERE {where}"
    ).fetchall()
    return query_check(con, ref_sql, cols, got)


def reference_silver_sql(bronze_glob: str) -> str:
    """The reference silver CTE (clean, dedup on id, enforce), with the
    package's documented deviation: ``id`` is trimmed like every other
    string column (see plans/silver.py)."""
    cols = ", ".join(f"{c}: 'VARCHAR'" for c in _RAW_COLS)

    def clean(c: str) -> str:
        return f"NULLIF(TRIM(CAST({c} AS VARCHAR)), '')"

    return f"""
    WITH raw AS (
        SELECT * FROM read_json('{bronze_glob}', format = 'array', columns = {{{cols}}})
    ),
    cleaned AS (
        SELECT {clean('id')} AS id, {clean('name')} AS name,
               {clean('brewery_type')} AS brewery_type, {clean('country')} AS country,
               COALESCE({clean('state')}, {clean('state_province')}) AS state,
               {clean('city')} AS city, {clean('postal_code')} AS postal_code,
               TRY_CAST({clean('latitude')} AS DOUBLE) AS latitude,
               TRY_CAST({clean('longitude')} AS DOUBLE) AS longitude
        FROM raw
    ),
    dedup AS (
        SELECT * FROM cleaned QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY id) = 1
    )
    SELECT * FROM dedup
    WHERE id IS NOT NULL AND name IS NOT NULL AND country IS NOT NULL AND state IS NOT NULL
      AND (latitude IS NULL OR latitude BETWEEN -90 AND 90)
      AND (longitude IS NULL OR longitude BETWEEN -180 AND 180)
    """


def reference_gold_sql(silver_sql: str, dims: tuple[str, ...]) -> str:
    d = ", ".join(f"COALESCE({c}, '') AS {c}" for c in dims)
    return f"SELECT {d}, COUNT(*) AS brewery_count FROM ({silver_sql}) GROUP BY ALL"
