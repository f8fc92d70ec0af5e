"""A18 — record-level error isolation (dead-letter pattern).

The reference wraps each record's transform in try/catch: a failing
feature is logged and skipped, the batch still commits
(task.ts:168-169, 351-358). The engine equivalent: run the risky
Python transform inside Arrow-batched ``mapInPandas`` with a per-row
try, emit an ``error`` column, and fan the frame into a good stream
and a quarantine stream — both sides stay DataFrames, so the
quarantine can be written to its own sink (the dead-letter queue).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale_patterns import barrier


def with_quarantine(
    df: DataFrame,
    fn: Callable[[dict[str, Any]], dict[str, Any]],
    out_schema: str,
) -> tuple[DataFrame, DataFrame]:
    """Apply ``fn`` (a per-record dict -> dict transform) with error
    isolation. Returns ``(good, quarantined)``:

    - ``good``: rows where ``fn`` succeeded, with ``out_schema`` columns;
    - ``quarantined``: the ORIGINAL rows that failed, plus an ``error``
      column with the exception text (the dead-letter payload keeps the
      raw input so it can be replayed, which the reference's log-only
      catch, task.ts:351-353, cannot).

    ``out_schema`` must not contain an ``error`` column; input columns
    are carried into the quarantine side unchanged.
    """
    from pyspark.sql.types import StructType

    in_cols = df.columns
    raw_names = [f"_raw_{c}" for c in in_cols]
    union_schema = f"{out_schema}, _qerror string, " + ", ".join(
        f"{r} string" for r in raw_names
    )
    # real DDL parse (naive comma-splitting breaks on decimal(10,2) etc.)
    out_names = [f.name for f in StructType.fromDDL(out_schema).fields]
    all_names = out_names + ["_qerror"] + raw_names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                # NULLs stay NULL in the replay payload (str(None) would
                # bake the literal string 'None' into the dead letter)
                base = {
                    f"_raw_{c}": (str(rec[c]) if rec[c] is not None else None)
                    for c in in_cols
                }
                try:
                    out = fn(dict(rec))
                    rows.append({**{n: out.get(n) for n in out_names}, "_qerror": None, **base})
                except Exception as e:  # noqa: BLE001 — the whole point
                    rows.append(
                        {**{n: None for n in out_names}, "_qerror": f"{type(e).__name__}: {e}", **base}
                    )
            yield pd.DataFrame(rows, columns=all_names)

    # lazy barrier: the two returned frames are both consumed (main
    # sink + dead-letter sink); without it each action re-executes fn
    # over every record — double cost, and divergent splits if fn is
    # non-deterministic. It never enters the session cache, so there is
    # nothing for the caller to release: the blocks go with the frames.
    both = barrier(df.mapInPandas(run, schema=union_schema), eager=False)
    good = both.filter(F.col("_qerror").isNull()).select(*out_names)
    quarantined = both.filter(F.col("_qerror").isNotNull()).select(
        *[F.col(f"_raw_{c}").alias(c) for c in in_cols],
        F.col("_qerror").alias("error"),
    )
    return good, quarantined


from pyspark.sql import SparkSession  # noqa: E402

from ..helpers import r4  # noqa: E402,F401
from ..registry import query  # noqa: E402
from ..tables import table  # noqa: E402


@query(
    "etl_quarantine_split",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT CASE WHEN event_type = 'error' OR k % 7 = 0
            THEN 'quarantined' ELSE 'good' END AS side,
       CASE WHEN event_type = 'error' THEN 'ValueError: bad event type'
            WHEN k % 7 = 0 THEN 'ValueError: poison k' END AS err,
       count(*) AS n
FROM c
GROUP BY 1, 2
""",
)
def etl_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 as a driver-checkable query: run a deliberately-failing
    per-record transform through with_quarantine (the reference's
    try/catch-per-feature, task.ts:168-169, 351-358, upgraded to a
    replayable dead letter) and return the good/quarantined split with
    per-error-class counts. The poison conditions are deterministic
    (event_type == 'error'; JSON k divisible by 7), so the whole
    dead-letter pipeline — Python transform, exception capture, raw-row
    preservation, two-stream fan-out — hash-checks against a pure-SQL
    oracle.

    Scale: one Arrow-batched Python pass (behind a barrier so the good
    and dead-letter sinks don't re-execute it), then two scan-side
    filters of the barriered frame; counts are map-side combinable."""
    import json as _json

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "props")

    def risky(rec: dict) -> dict:
        if rec["event_type"] == "error":
            raise ValueError("bad event type")
        k = _json.loads(rec["props"])["k"]
        if k % 7 == 0:
            raise ValueError("poison k")
        return {"event_id": rec["event_id"], "k2": 2 * k}

    good, quarantined = with_quarantine(ev, risky, "event_id bigint, k2 bigint")
    g = good.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("good").alias("side"), F.lit(None).cast("string").alias("err"), "n"
    )
    q = (
        quarantined.groupBy(F.col("error").alias("err"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("quarantined").alias("side"), "err", "n")
    )
    return g.unionByName(q)
