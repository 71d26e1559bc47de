"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference `feldeh/telecom-competitor-analysis`
(a Python/Airflow ETL pipeline; see SURVEY.md), re-expressed Spark-first:

- declarative DataFrame/SQL plans (Catalyst optimizes: pushdown, pruning,
  broadcast joins, AQE),
- explicit StructType schemas at the ingestion edge (the pydantic role,
  reference dags/data_model.py:9-24),
- merge layer (anti-join dedup, lookup joins, SCD change detection) that
  replaces the reference's N+1 point-query load loop
  (reference dags/bigquery.py:223-333) with a handful of shuffles,
- extension surface for large-scale training-data pipelines: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, text analysis, multimodal column plumbing.

Designed for a multi-executor cluster at ~100 TB (partitioned writes,
broadcast-able dims, no driver-side row loops); tested on local[N].
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Python workers need not be able to import this package: the closures
# its pandas stages ship (``applyInPandas``/``mapInPandas`` functions and
# the package helpers they call) are pickled by value, not as a
# reference that a worker started outside the checkout cannot resolve.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
