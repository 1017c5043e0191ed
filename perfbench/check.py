"""Output checks: order-independent all-column digests and DuckDB oracles.

A result's digest is the SHA-256 of its rows, each row a sorted
(column, value) tuple, sorted as a whole. Floats are written with ten
significant digits and NaN as a string, the normalization the
driver-side oracle comparison uses, so a Spark result and its DuckDB
oracle digest equal exactly when they agree row for row.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def _norm_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.10g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def digest(rows, cols) -> tuple[int, str]:
    """(row count, hex digest) of rows given as sequences aligned to cols."""
    normed = sorted(
        repr(tuple(sorted(zip(cols, (_norm_value(v) for v in r)))))
        for r in rows
    )
    h = hashlib.sha256()
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return len(normed), h.hexdigest()


def spark_rows(df) -> tuple[list, list]:
    """Collect every row and column of a Spark frame (the timed read)."""
    return [tuple(r) for r in df.collect()], list(df.columns)


def duck_digest(con, sql: str) -> tuple[int, str]:
    con.execute("SET enable_progress_bar = false")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest(res.fetchall(), cols)


def corrupt(rows: list) -> list:
    """A copy of rows with one value changed (for the smoke check)."""
    if not rows:
        return [("corrupted",)]
    first = list(rows[0])
    first[-1] = "corrupted"
    return [tuple(first)] + rows[1:]


def series_sql(source: str) -> str:
    """CTEs `binned` and `series` over a transcripts relation — the
    engine's derived per-minute turn_rate / tool_usage points."""
    return f"""
binned AS (
  SELECT conv_id, (epoch_ms(ts) // 60000) * 60000 AS bin_ms,
         COUNT(*) AS turn_rate, COUNT(tool) AS tool_usage
  FROM {source} GROUP BY 1, 2
),
series AS (
  SELECT conv_id, 'turn_rate' AS metric, bin_ms, CAST(turn_rate AS FLOAT) AS value
  FROM binned
  UNION ALL
  SELECT conv_id, 'tool_usage' AS metric, bin_ms, CAST(tool_usage AS FLOAT) AS value
  FROM binned
)
"""


def raw_rollup_sql(window_ms: int, source: str = "series") -> str:
    """Raw-points rollup at `window_ms` of a series relation (the bound-0
    oracle)."""
    return f"""
SELECT conv_id, metric, CAST((bin_ms // {window_ms}) * {window_ms} AS BIGINT) AS window_ms,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(MIN(value) AS DOUBLE) AS vmin, CAST(MAX(value) AS DOUBLE) AS vmax,
       SUM(CAST(value AS DOUBLE)) AS vsum,
       SUM(CAST(value AS DOUBLE)) / COUNT(*) AS mean
FROM {source} GROUP BY 1, 2, 3
"""
