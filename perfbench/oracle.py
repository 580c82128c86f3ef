"""DuckDB output checks. They read what the program stored (or the rows
it returned) and recompute it independently from the inputs; none of
them calls the package. Each returns a list of failure messages."""

from __future__ import annotations

import duckdb
import pandas as pd

EPOCH_UNIX = 1640995200  # token hour 0 = 2022-01-01T00:00:00Z
TOL = 1e-9


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    return con


def pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def decoded_sql(seq_dir: str, where: str = "true") -> str:
    """Observations decoded from the token arrays: ``[dt0, v0, dt1, v1,
    ...]``, dt in hours since the previous observation (the first since
    token hour 0), value = v / 1000."""
    return f"""
      SELECT source, doc_id,
             {EPOCH_UNIX} + 3600 * sum(tokens[2 * i - 1])
               OVER (PARTITION BY doc_id ORDER BY i) AS ts_epoch,
             tokens[2 * i] / 1000.0 AS value
      FROM (SELECT source, doc_id, tokens,
                   unnest(generate_series(1, n_tok // 2)) AS i
            FROM {pq(seq_dir)} WHERE {where})"""


def mismatches(con, a_sql: str, b_sql: str, keys: list[str], exact: list[str],
               approx: list[str], what: str) -> list[str]:
    """Full outer join of two relations on ``keys``; count rows missing on
    either side, differing on ``exact`` columns, or differing by more
    than a relative TOL on ``approx`` columns."""
    on = " AND ".join(f"a.{k} IS NOT DISTINCT FROM b.{k}" for k in keys)
    bad = [f"a.{keys[0]} IS NULL", f"b.{keys[0]} IS NULL"]
    bad += [f"a.{c} IS DISTINCT FROM b.{c}" for c in exact]
    bad += [f"abs(a.{c} - b.{c}) > {TOL} * greatest(1, abs(b.{c}))" for c in approx]
    n, n_a = con.execute(f"""
      SELECT count(*) FILTER (WHERE {' OR '.join(bad)}), count(a.{keys[0]})
      FROM ({a_sql}) a FULL OUTER JOIN ({b_sql}) b ON {on}""").fetchone()
    if n or not n_a:
        return [f"{what}: {n} mismatched rows of {n_a}"]
    return []


def gapfill_outside(con, hourly_sql: str, obs_sql: str) -> int:
    """Hourly gap-filled rows that are not one value inside [min, max] of
    their doc's observations. Every filled hour interpolates between two
    observations (the cumulative dose response is non-decreasing, so its
    share of a segment lies in [0, 1]), so each must be."""
    return con.execute(f"""
      SELECT count(*) FROM ({hourly_sql}) h LEFT JOIN (
        SELECT doc_id, min(value) AS lo, max(value) AS hi FROM ({obs_sql}) GROUP BY doc_id
      ) o USING (doc_id)
      WHERE (h.n = 1 AND h.min_value = h.max_value AND h.sum_value = h.min_value
             AND h.min_value >= o.lo - {TOL} * greatest(1, abs(o.lo))
             AND h.max_value <= o.hi + {TOL} * greatest(1, abs(o.hi))) IS NOT TRUE""").fetchone()[0]


def frame_sql(con, name: str, df: pd.DataFrame) -> str:
    con.register(name, df)
    return f"SELECT * FROM {name}"


def digest(con, sql: str) -> tuple:
    """Order-insensitive digest of a relation: row count plus the sum of
    row hashes, numbers cast to double and rounded to 6 decimals."""
    cols = con.execute(f"DESCRIBE ({sql})").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        c = f'"{name}"'
        if any(t in typ for t in ("INT", "DOUBLE", "FLOAT", "DECIMAL")):
            parts.append(f"round({c}::DOUBLE, 6)")
        else:
            parts.append(f"{c}::VARCHAR")
    row = ", ".join(parts)
    return con.execute(
        f"SELECT count(*), sum(hash({row})::HUGEINT) FROM ({sql})"
    ).fetchone()
