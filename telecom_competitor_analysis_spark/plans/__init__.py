"""Declared query plans, one module per family, each query registered
beside its DuckDB oracle (see ``registry``). ``QUERIES`` / ``ORACLES``
map every query name to its callable / oracle SQL;
``__spark_entry__.queries()`` serves them in verify order."""

from telecom_competitor_analysis_spark.plans import (  # noqa: F401  (registers)
    curation,
    dedup,
    graph,
    relational,
    similarity,
    stats,
    streaming,
    text,
)
from telecom_competitor_analysis_spark.plans.registry import REGISTERED

QUERIES = dict(REGISTERED)
ORACLES = {n: fn.oracle for n, fn in QUERIES.items() if fn.oracle is not None}
