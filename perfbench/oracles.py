"""Expected outputs, recomputed in DuckDB from the generated inputs.

The ETL oracle follows the closed-form pattern of ``plans/etl_flow.py``
extended with ``gen.EditingClient``'s edit rule; the report and dedup
oracles are the registry's own SQL (``PROGRESS_ORACLE``,
``NUTRITION_ORACLE``, ``MINHASH_DEDUP_E2E_ORACLE``) run once at set-up
and filtered per request.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from datetime import date, timedelta

import duckdb

import gen


def canon(v) -> str:
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def row_key(row) -> tuple[str, ...]:
    return tuple(canon(v) for v in row)


def digest(rows) -> tuple[int, str]:
    """Order-insensitive (row count, sha256) of a result."""
    keys = sorted("|".join(row_key(r)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


# --- etl_incremental ----------------------------------------------------------

#: Columns each silver table is checked on, in oracle column order.
ETL_CHECK_COLUMNS = {
    "raw_day_data": ["user_id", "date", "water"],
    "meals": ["user_id", "date", "name", "calories"],
    "meal_entries": ["user_id", "date", "meal_name", "short_name", "quantity"],
    "exercises": ["user_id", "date", "kind", "name", "minutes"],
}

_MEAL_NAME = " ".join(
    ["CASE i"] + [f"WHEN {i} THEN '{n}'" for i, n in enumerate(gen.MEAL_NAMES)] + ["END"]
)


def etl_expected(users_path: str, seed: int, increments: int) -> dict[str, tuple[int, str]]:
    """Digest of each silver table after the backfill plus ``increments``
    daily increments.  A day's final content is the client's answer at
    the last increment whose window covered it."""
    b = gen.etl_backfill_to()
    b_e = (b - date(1970, 1, 1)).days
    w = gen.ETL_WINDOW_DAYS
    last = b + timedelta(days=increments)
    st = f"""
    users AS (SELECT user_id FROM read_parquet('{users_path}')),
    days AS (
      SELECT CAST(unnest(generate_series(DATE '{gen.ETL_BACKFILL_FROM}', DATE '{last}',
                                         INTERVAL 1 DAY)) AS DATE) AS date
    ),
    req AS (
      SELECT user_id, date, CAST(date - DATE '1970-01-01' AS BIGINT) AS e
      FROM users CROSS JOIN days
    ),
    lastk AS (
      SELECT *, CASE WHEN e >= {b_e} - {w - 2} THEN LEAST({increments}, e - {b_e} + {w - 1})
                     ELSE 0 END AS k
      FROM req
    ),
    st AS (
      SELECT user_id, date, e, k, {seed % 1000} AS s,
             (k >= 1 AND e < {b_e} + k
              AND (user_id * 2654435761 + e * 40503 + k * 97 + {(seed % 1_000_003) * 7}) % 1000
                  < {gen.ETL_EDIT_PERMILLE}) AS edited
      FROM lastk
    ),
    meals AS (
      SELECT st.*, i
      FROM st, LATERAL (SELECT unnest(generate_series(0, (user_id + e + s) % 4 - 1)) AS i)
    )"""
    queries = {
        "raw_day_data": """
          SELECT user_id, date,
                 CAST((user_id + e) % 5 + CASE WHEN edited THEN 1 + k % 3 ELSE 0 END AS BIGINT)
          FROM st""",
        "meals": f"""
          SELECT user_id, date, {_MEAL_NAME},
                 CAST((user_id * 31 + e * 7 + i * 13 + s) % 900 + 100 AS BIGINT)
          FROM meals""",
        "meal_entries": f"""
          SELECT user_id, date, {_MEAL_NAME},
                 'item' || CAST((user_id + j * 7 + s) % 50 AS VARCHAR),
                 CAST((user_id + e + i + j) % 5 + 1 AS BIGINT)
          FROM meals, LATERAL (SELECT unnest(generate_series(0, (user_id + e + i) % 3)) AS j)""",
        "exercises": """
          SELECT user_id, date, 'cardio', 'cardio',
                 CAST((user_id + e + s) % 60 + CASE WHEN edited THEN 10 ELSE 0 END AS BIGINT)
          FROM st
          UNION ALL
          SELECT user_id, date, 'strength', 'strength', CAST((user_id * 2 + e) % 45 AS BIGINT)
          FROM st""",
    }
    con = duckdb.connect()
    try:
        return {t: digest(con.sql(f"WITH {st} {q}").fetchall()) for t, q in queries.items()}
    finally:
        con.close()


# --- report_mix ---------------------------------------------------------------


def _star_connection(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con


def _substitute(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"oracle no longer contains {old!r}; update the bench's filter")
    return sql.replace(old, new)


class ReportOracle:
    """The registry oracles over the generated star, computed once and
    filtered per request: a progress row depends only on its customer's
    rows, a nutrition row only on its (customer, date) group, so
    filtering the unfiltered oracle equals the filtered query."""

    def __init__(self, star_dir: str):
        from myfitnesspaw_spark.plans import nutrition, progress

        con = _star_connection(star_dir)
        try:
            rel = con.sql(progress.PROGRESS_ORACLE)
            self.progress_columns = rel.columns
            self.progress: dict[int, list[tuple]] = {}
            for row in rel.fetchall():
                self.progress.setdefault(row[0], []).append(row)
            all_dates = _substitute(
                _substitute(nutrition.NUTRITION_ORACLE, f"DATE '{nutrition.DATE_FROM}'", "DATE '1900-01-01'"),
                f"DATE '{nutrition.DATE_TO}'",
                "DATE '2100-12-31'",
            )
            self.nutrition: dict[str, list[tuple]] = {}
            for seg in gen.SEGMENTS:
                rel = con.sql(_substitute(all_dates, f"'{nutrition.SEGMENT}'", f"'{seg}'"))
                self.nutrition_columns = rel.columns
                self.nutrition[seg] = rel.fetchall()
        finally:
            con.close()

    def expected(self, request: tuple) -> tuple[list[str], list[tuple]]:
        if request[0] == "point":
            return self.progress_columns, self.progress.get(request[1], [])
        _, lo, hi, seg = request
        lo_d, hi_d = date.fromisoformat(lo), date.fromisoformat(hi)
        date_idx = self.nutrition_columns.index("date")
        rows = [r for r in self.nutrition[seg] if lo_d <= r[date_idx] <= hi_d]
        return self.nutrition_columns, rows


def same_result(columns: list[str], rows: list, exp_columns: list[str], exp_rows: list) -> bool:
    """Order-insensitive comparison on the sorted column set."""
    if sorted(columns) != sorted(exp_columns):
        return False
    names = sorted(columns)
    mine = sorted(tuple(canon(r[columns.index(c)]) for c in names) for r in rows)
    theirs = sorted(tuple(canon(r[exp_columns.index(c)]) for c in names) for r in exp_rows)
    return mine == theirs


# --- corpus_dedup ---------------------------------------------------------------


def dedup_expected(corpus_path: str) -> tuple[list[str], list[tuple]]:
    from myfitnesspaw_spark.plans.text_queries import MINHASH_DEDUP_E2E_ORACLE

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_path}')")
        rel = con.sql(MINHASH_DEDUP_E2E_ORACLE)
        return rel.columns, rel.fetchall()
    finally:
        con.close()


def read_parquet_dir(path: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        return rel.columns, rel.fetchall()
    finally:
        con.close()
