"""Determinism helpers shared by every operator module (SURVEY.md §5.3).

These exist so the Spark side and the DuckDB oracle compute *identical*
values despite engine differences:

- ``r4``      — round computed doubles to 4 decimals (cross-engine float
                summation order differs; 4 decimals is the contract).
- events time — the fixture column is parquet ``timestamp[us]``; both
                engines scan it as a µs-precision UTC timestamp
                (``table()`` normalizes a legacy int64-ns fixture to the
                same type). The shared integer currency:
                  Spark  ``ev_us``:  unix_micros(ts)      (bigint µs)
                  DuckDB          :  epoch_us(ts)         (bigint µs)
                  Spark  ``ev_ms``:  unix_millis(ts)      (bigint ms)
                  DuckDB          :  epoch_ms(ts)         (bigint ms)
                All ordering / bucketing / gap logic on events uses these
                integers (or the timestamp itself), never float seconds —
                exact parity, no float drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# The customer lon/lat lattice. The fixture tables carry no geometry, so
# every spatial operator derives exact half-integer coordinates from the
# key (mod 360 and 160); the same text runs on both engines.
LON = "(c_custkey % 360) - 180 + 0.5"
LAT = "(c_custkey % 160) - 80 + 0.5"

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def r4(col: Column | str) -> Column:
    """Engine-contract rounding for computed doubles.

    Emulates DuckDB's ``round(x, 4)`` (scale in float, then round half
    away from zero) instead of Spark's exact-BigDecimal ``F.round`` —
    the two disagree on ~1e-4-boundary values because DuckDB introduces
    the ``x*1e4`` float error before rounding. ``floor(|x|*1e4 + 0.5)``
    on the magnitude, sign reapplied, reproduces DuckDB's
    away-from-zero behavior bit-for-bit for both signs (|x|·1e4 and
    |x·1e4| round identically in IEEE), so ``round(expr, 4)`` in oracle
    SQL matches.
    """
    c = _c(col)
    return (F.signum(c) * F.floor(F.abs(c) * 10000 + F.lit(0.5)) / 10000).cast("double")


def r4_sql(expr: str) -> str:
    """SQL-text spelling of :func:`r4` — the same expression tree built
    in one string (used by queries constructed via ``spark.sql``: a
    single py4j round trip builds the whole plan JVM-side, where the
    equivalent Column-API chain costs ~100 driver->JVM calls, ~180 ms
    of pure build time per run at bench scale)."""
    return f"CAST(signum({expr}) * floor(abs({expr}) * 10000 + 0.5) / 10000 AS DOUBLE)"


def sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a single-quoted SQL string literal: backslash and quote
    escaped the way Spark's parser unescapes them (its default
    ``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ev_us(col: str = "ts") -> Column:
    """events.ts (µs timestamp) -> epoch microseconds. Oracle: ``epoch_us(ts)``."""
    return F.unix_micros(_c(col))


def ev_ms(col: str = "ts") -> Column:
    """events.ts (µs timestamp) -> epoch milliseconds. Oracle: ``epoch_ms(ts)``.

    Integer µs div 1000 — identical to DuckDB's ``epoch_ms`` for the
    post-epoch fixture range (both truncate the sub-ms part).
    """
    return F.expr(f"unix_micros({col}) div 1000")


def ev_timestamp(col: str = "ts") -> Column:
    """events.ts (µs timestamp) -> µs-precision TIMESTAMP (UTC session).

    Identity under the current fixture type; kept as the single choke
    point operators use when they need the timestamp itself (streaming
    ``window()`` / ``session_window()``).
    """
    return _c(col)
