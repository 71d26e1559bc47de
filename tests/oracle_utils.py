"""Local stand-in for the driver's correctness compare: run a Spark query
and its DuckDB oracle on the same parquet tables, sort columns by name,
canonicalize values, compare order-insensitively. Also the formatted-plan
text that plan-shape tests assert on."""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd

from telecom_competitor_analysis_spark.schemas import TESTDATA_TABLES


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string: the node tree, then one
    detail block per node."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool,)) or type(v).__name__ == "bool_":
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v.is_integer():
            return str(int(v))
        return repr(v)
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    if not cols:
        return [()] * len(df)
    # column-wise canonicalization (a python loop per COLUMN, not per
    # row — iterrows() cost ~20s on a 240k-row unpivot compare)
    canon_cols = [[_canon(v) for v in df[c].tolist()] for c in cols]
    return sorted(zip(*canon_cols))


def compare(spark_df, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(oracle_df.columns):
        return False, f"columns differ: {sorted(sp.columns)} vs {sorted(oracle_df.columns)}"
    if len(sp) != len(oracle_df):
        return False, f"row count differs: spark={len(sp)} oracle={len(oracle_df)}"
    a, b = canonical_rows(sp), canonical_rows(oracle_df)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        only_a = [r for r in a if r not in set(b)][:3]
        only_b = [r for r in b if r not in set(a)][:3]
        return False, f"values differ; first diffs={diffs} only_spark={only_a} only_oracle={only_b}"
    return True, "ok"
