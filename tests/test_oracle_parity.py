"""Every declared query must hash-match its DuckDB oracle (the driver's
t2 gate, run locally at sf0.001 for fast iteration), and its optimized
plan must match its entry in the fingerprint manifest: a plan change
fails here, naming the query, until ``tools/plan_fingerprints.py
--update`` records it (which also moves it to the front of the driver's
verify window)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # full-run default; excluded by the -m 'not slow' fast tier

from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES
from telecom_competitor_analysis_spark.plans.registry import (
    load_manifest,
    plan_fingerprint,
)

from tests.oracle_utils import compare, duckdb_conn

MANIFEST = load_manifest()


def _assert_plan_unchanged(name, df):
    fp = plan_fingerprint(df)
    assert MANIFEST.get(name) == fp, (
        f"{name}: plan fingerprint {fp} != manifest {MANIFEST.get(name)}; "
        "if the plan change is intended, run tools/plan_fingerprints.py --update"
    )


def test_every_query_has_an_oracle_or_is_flagged():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_manifest_covers_every_query():
    assert set(MANIFEST) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    spark_df = QUERIES[name](spark, sf_dir)
    con = duckdb_conn(sf_dir)
    oracle_df = con.execute(ORACLES[name]).df()
    ok, msg = compare(spark_df, oracle_df)
    assert ok, f"{name}: {msg}"
    _assert_plan_unchanged(name, spark_df)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    _assert_plan_unchanged(name, df)
