"""cantera_table_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of mortehu/cantera-table.

The reference (C++14, /root/reference) is a sorted key->value store with an
inverted-index search DSL, time-series scoring, and a CORRELATE feature
miner.  This package re-expresses those capabilities Spark-first:

- long-form DataFrames (``postings``, ``documents``, ``overrides``,
  ``timeseries``) stored as Parquet — Parquet's encodings replace the
  reference's custom posting-list compression (reference format.cc/parse.cc).
- the search DSL (reference query-parser.yy) is parsed to a small AST and
  compiled to DataFrame expressions; Catalyst is the optimizer the
  reference never had.
- ingest (reference ca-load.cc) is batch DataFrame transforms plus a
  Structured Streaming edge.
- beyond the reference surface: large-scale training-data pipeline
  operators (dedup, similarity search, text analysis, multimodal columns).
"""

from cantera_table_spark.session import CacheScope, get_spark
from cantera_table_spark.model import Catalog
from cantera_table_spark.engine import Engine

__all__ = ["get_spark", "CacheScope", "Catalog", "Engine"]

__version__ = "0.1.0"
