"""etl_arcgis_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the query & data-processing
capabilities of the reference connector ``dfpc-coe/etl-arcgis``
(single-file AWS-Lambda ETL, ``task.ts``), generalized into a complete
analytics engine per SURVEY.md §2:

- Tier A: the reference's own ETL operators (scan, explode, restructure,
  route, reproject, upsert) re-expressed as DataFrame transformations.
- Tier B: the relational query surface the reference forwards to the
  ArcGIS FeatureService REST API (filter/project/sort/limit/distinct/
  group-stats/having/top-k-per-group/spatial/temporal), implemented
  natively on Catalyst.
- Tier C: engine-grade extensions — joins, window functions, set ops,
  scalar function surface, streaming equivalents, and the LLM-data-
  pipeline operators (dedup, similarity search, multimodal columns,
  text analysis) designed for 100 TB scale.

Everything is declarative DataFrame/SQL so Catalyst + Tungsten pick the
physical strategy; Python touches data only through Arrow-vectorized
pandas UDFs where built-ins genuinely cannot express the semantics.
"""

from etl_arcgis_spark import _zipcache

__version__ = "0.1.0"

# Python workers call importlib.invalidate_caches() before every task;
# see _zipcache for why that re-parses zip archives and what this does.
_zipcache.install()
