"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (for
everything hash-checkable) an equivalent ANSI-SQL oracle string that
DuckDB runs over the same parquet tables. ``__spark_entry__.py`` simply
re-exports these dicts.

Determinism contract (SURVEY.md §5.3) every registered query obeys:
  1. computed doubles rounded to 4 decimals on BOTH engines;
  2. ``events.ts`` is a µs timestamp on both engines (tables.py read
     policy) — never emitted raw; ordering and arithmetic go through
     integer epoch-µs/ms values (helpers.ev_us/ev_ms), identical on
     both engines;
  3. every LIMIT/top-k carries a unique total-order tie-breaker;
  4. null ordering spelled explicitly;
  5. session timezone pinned UTC on both engines;
  6. seeded/approximate ops are registered WITHOUT an oracle (weak,
     rows-only check).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
MODULE_OF: dict[str, str] = {}

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL.

    ``oracle=None`` declares a *weak* query (rows-only driver check) —
    reserved for seeded/approximate algorithms per SURVEY.md §2.1.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        MODULE_OF[name] = fn.__module__.rsplit(".", 1)[-1]
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def _verified_names() -> set[str]:
    """Query names whose latest driver row in the CORRECTNESS_r*.json
    files ran clean (hash-green, or weak-ran for declared no-oracle
    queries). Rounds are read in order, so the latest status per name
    wins: a green row followed by an ERROR demotes the name to
    :data:`_FAILED_LAST`. Also refreshes :data:`_LATEST_CLEAN_ROUND`."""
    latest: dict[str, bool] = {}
    _LATEST_CLEAN_ROUND.clear()
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        except ValueError:
            continue
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            err = r.get("err")
            if err is None and r.get("hash_match"):
                latest[name] = True
                _LATEST_CLEAN_ROUND[name] = rnd
            elif err == "no_oracle" and r.get("spark_rows") is not None:
                latest[name] = True
                _LATEST_CLEAN_ROUND[name] = rnd
            else:
                latest[name] = False
    _FAILED_LAST.clear()
    _FAILED_LAST.update(n for n, ok in latest.items() if not ok)
    return {n for n, ok in latest.items() if ok}


# Latest round whose driver row ran clean, per name — refreshed by
# _verified_names(); orders the verified tier oldest row first.
_LATEST_CLEAN_ROUND: dict[str, int] = {}


# Names whose most recent driver row was an ERROR / mismatch — refreshed
# by _verified_names(); these re-verify ahead of everything else.
_FAILED_LAST: set[str] = set()


# Verification priority among failed and never-verified queries: the
# SURVEY §2.1 contract families (scans/filters/joins/windows/setops/
# functions/etl/streaming) first, engine extensions after. Within a
# module, registration (source) order is preserved.
_MODULE_PRIORITY = [
    "scans",
    "filters",
    "joins",
    "windows",
    "setops",
    "corpus",
    "sql_functions",
    "etl",
    "streaming_batch",
    "aggregates",
    "text",
    "similarity",
    "udfs",
    "multimodal",
    "dedup",
    "quality",
    "timeseries",
    "graph",
    "analytics",
]


_LOADED = False


def load_all() -> None:
    """Import every operator module so its @query decorators run."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        corpus,
        dedup,
        etl,
        filters,
        graph,
        joins,
        multimodal,
        quarantine,
        scans,
        setops,
        similarity,
        spatial_stats,
        sql_functions,
        quality,
        streaming_batch,
        text,
        timeseries,
        udfs,
        windows,
    )

    _LOADED = True


def all_queries() -> dict[str, QueryFn]:
    """All registered queries, ordered for the driver's partial check.

    The driver verifies the first 50 entries per round, in dict order,
    so the order is the verification policy. Names whose latest driver
    row failed come first and never-verified names next, both by
    (module priority, registration order); verified names come last,
    oldest clean row first, so each round re-verifies the stalest rows.
    Contents are identical regardless of order.
    """
    load_all()
    verified = _verified_names()
    prio = {m: i for i, m in enumerate(_MODULE_PRIORITY)}
    insertion = {n: i for i, n in enumerate(QUERIES)}

    def key(n: str) -> tuple[int, int, int]:
        module = prio.get(MODULE_OF[n], len(_MODULE_PRIORITY))
        if n in _FAILED_LAST:
            return (0, module, insertion[n])
        if n not in verified:
            return (1, module, insertion[n])
        return (2, _LATEST_CLEAN_ROUND[n], insertion[n])

    return {n: QUERIES[n] for n in sorted(QUERIES, key=key)}


def all_oracles() -> dict[str, str]:
    load_all()
    return {n: ORACLES[n] for n in all_queries() if n in ORACLES}


def run(spark: SparkSession, name: str, sf_dir: str) -> Any:
    load_all()
    return QUERIES[name](spark, sf_dir)
