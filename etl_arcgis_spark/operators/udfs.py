"""User-defined function surface — SURVEY.md §2 C49-C52.

The reference's per-row JS transforms (reprojection task.ts:189-220,
defaults task.ts:242-251, JSON parsing task.ts:172-175) generalized to
the full PySpark UDF ladder, worst-to-best:

- C49 scalar Python UDF — row-at-a-time pickling; exists for parity,
  deliberately on the narrowest possible column set;
- C50 pandas UDF — Arrow-batched, vectorized numpy: the right way to
  run Python math (10-100x the scalar UDF);
- C51 grouped UDAF via applyInPandas — per-group pandas frame;
- C52 UDTF — table function exploding JSON props to rows.

Every one of these also exists as a pure-SQL query elsewhere in the
engine (geo_reproject_webmercator, cast_coalesce_defaults,
map_json_funcs) — the UDF versions prove the Python escape hatch works,
and their oracles prove it computes the same thing.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import r4
from ..registry import query
from ..tables import table
from .etl import WMERC_STAGES, lattice, lattice_oracle


@query(
    "udf_scalar_default",
    oracle="""
SELECT event_id,
       coalesce(nullif(event_type, 'error'), 'Unknown') AS callsign
FROM events
""",
)
def udf_scalar_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49: scalar Python UDF applying the reference's callsign default
    (task.ts:244). Row-at-a-time serde — the slow path, kept to two
    columns; the SQL twin is cast_coalesce_defaults."""

    @F.udf("string")
    def default_callsign(s: str | None) -> str:
        return "Unknown" if s is None else s

    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        default_callsign(F.nullif(F.col("event_type"), F.lit("error"))).alias("callsign"),
    )


@query(
    "udf_pandas_reproject",
    oracle=lattice_oracle(
        WMERC_STAGES, "round(prj_x, 4) AS x_3857, round(prj_y, 4) AS y_3857"
    ),
)
def udf_pandas_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50: Web-Mercator reprojection as an Arrow-batched pandas UDF —
    the vectorized-Python version of geo_reproject_webmercator
    (proj4 math, task.ts:194). numpy evaluates whole Arrow batches;
    same double math as the SQL/oracle formulation."""

    @F.pandas_udf("double")
    def merc_x(lon: pd.Series) -> pd.Series:
        return 6378137.0 * np.radians(lon)

    @F.pandas_udf("double")
    def merc_y(lat: pd.Series) -> pd.Series:
        return 6378137.0 * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))

    return lattice(spark, sf_dir).select(
        "c_custkey",
        r4(merc_x("lon")).alias("x_3857"),
        r4(merc_y("lat")).alias("y_3857"),
    )


@query(
    "udaf_grouped_median",
    oracle="""
SELECT user_id,
       round(CAST(median(value) AS DOUBLE), 4) AS med_value,
       count(*) AS n
FROM events
GROUP BY user_id
""",
)
def udaf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C51: grouped UDAF via applyInPandas — per-user exact median (both
    engines interpolate the middle pair). One shuffle on the group key,
    then a pandas frame per group; the built-in alternative is
    percentile(value, 0.5)."""

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "med_raw": [float(pdf["value"].median())],
                "n": [len(pdf)],
            }
        )

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandas(
        per_user, schema="user_id bigint, med_raw double, n bigint"
    )
    return out.select("user_id", r4(F.col("med_raw")).alias("med_value"), "n")


@query(
    "udtf_json_explode",
    oracle="""
SELECT event_id, je.k AS key, CAST(je.v AS BIGINT) AS value
FROM (
  SELECT event_id, unnest(json_keys(props)) AS k,
         json_extract_string(props, '$.' || unnest(json_keys(props))) AS v
  FROM events
) je
""",
)
def udtf_json_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52: UDTF (PySpark >= 3.5 table function) exploding the JSON
    props object into (key, value) rows via a LATERAL join — the
    schema-on-read dynamic-properties story (task.ts:172-175,429-431)
    as a table function. SQL twin: from_json + explode(map).

    The REPARTITION hint spreads the single-split fixture scan before
    the per-row Python eval — the UDTF stage ran in ONE Python worker
    on the one-row-group fixture file (optimization r12 batch-3
    pattern, guide §2.6/§4); only the two consumed columns cross the
    boundary."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_id bigint, key string, value bigint")
    class JsonExplode:
        def eval(self, event_id: int, props: str):  # noqa: ANN202
            for k, v in json.loads(props).items():
                yield event_id, k, int(v)

    from .scale_patterns import spread_width

    spark.udtf.register("json_explode_props", JsonExplode)
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    p = spread_width(spark, sf_dir, "events")
    return spark.sql(
        "SELECT f.event_id, f.key, f.value "
        f"FROM (SELECT /*+ REPARTITION({p}) */ event_id, props FROM events) e, "
        "LATERAL json_explode_props(event_id, props) f"
    )


@query(
    "udf_arrow_scalar",
    oracle="""
SELECT doc_id,
       upper(trim(source)) || ':' || CAST(n_chars AS VARCHAR) AS source_tag
FROM documents
""",
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49 Arrow-optimized variant: the same scalar-UDF API with
    ``useArrow=True`` — Spark batches rows through Arrow instead of
    pickling one at a time, the middle rung between the row UDF
    (udf_scalar_default) and the fully-vectorized pandas UDF. Exact
    string arithmetic, so the oracle hash-matches byte for byte.

    Scale note: Arrow batching removes the per-row serde but the
    function body still runs once PER VALUE in Python — vectorize with
    pandas_udf when the body is numeric. Either way the per-stage
    Python dispatch floor applies (BASELINE.md): batch Python work into
    FEW coarse stages."""

    @F.udf("string", useArrow=True)
    def tag(source: str, n_chars: int) -> str:
        return f"{source.strip().upper()}:{n_chars}"

    return table(spark, sf_dir, "documents").select(
        "doc_id", tag(F.col("source"), F.col("n_chars")).alias("source_tag")
    )


@query(
    "udf_map_in_arrow",
    oracle="""
SELECT event_id, user_id, event_id % 97 AS shard
FROM events WHERE user_id % 5 = 0
""",
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50 lowest-level spelling: mapInArrow — the UDF receives raw
    ``pyarrow.RecordBatch`` objects, no pandas materialization at all.
    The right tool when the Python side is itself Arrow-native
    (writing feature stores, calling Arrow-compute kernels, handing
    batches to a GPU library): zero conversion cost on top of the
    wire format. Integer-exact arithmetic here, so the oracle
    hash-matches exactly.

    Scale: identical plan shape to mapInPandas (ArrowEvalPython
    stage); the filter still pushes to the scan BELOW the Python
    stage — assert-visible in .explain — so Python sees only
    surviving rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def add_shard(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            # x % 97 spelled as x - 97*(x // 97): this pyarrow build has
            # no modulo kernel; int64 divide truncates and event_id >= 0
            ev_col = t.column("event_id")
            shard = pc.subtract(
                ev_col, pc.multiply(pc.divide(ev_col, 97), 97)
            )
            yield pa.Table.from_arrays(
                [t.column("event_id"), t.column("user_id"), shard],
                names=["event_id", "user_id", "shard"],
            ).to_batches()[0]

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    return ev.select("event_id", "user_id").mapInArrow(
        add_shard, schema="event_id bigint, user_id bigint, shard bigint"
    )


@query(
    "udf_sql_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4) AS charged
FROM lineitem
WHERE l_quantity >= 45
""",
)
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``) — the TOP
    of the UDF execution ladder this module walks (row-Python C49 ->
    Arrow-scalar -> pandas C50 -> mapInArrow -> SQL): a function DEFINED
    like a UDF but executed as a catalyst expression — inlined into
    whole-stage codegen, zero Python boundary, full pushdown through it.
    The reference's per-feature JS arithmetic (task.ts:242-251) lands
    here when the logic is expressible: you keep the reusable-function
    ergonomics AND the JVM plan.

    Plan property (tested): NO Python execution nodes — compare
    udf_scalar_default, whose identical logic pays the row-Python
    boundary by design."""
    from ..tables import table

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - d) * (1 + t)"
    )
    from ..helpers import r4_sql

    return spark.sql(
        f"""
SELECT l_orderkey, l_linenumber,
       {r4_sql("charged_price(l_extendedprice, l_discount, l_tax)")} AS charged
FROM lineitem_v
WHERE l_quantity >= 45
"""
    )
