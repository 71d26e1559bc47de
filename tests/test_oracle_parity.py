"""Every declared query must hash-match its DuckDB oracle (the driver's
t2 gate, run locally at sf0.001 for fast iteration), and its optimized
plan must match its entry in the fingerprint manifest: a plan change
fails here, naming the query, until ``tools/plan_fingerprints.py
--update`` records it (which also moves it to the front of the driver's
verify window)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

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


# The queries whose plans run Python stages (applyInPandas / mapInPandas).
PYTHON_STAGE_QUERIES = ["q_compact_plan", "q_pack_efficiency", "q_multimodal_decode"]


def test_python_stage_queries_run_outside_the_checkout(tmp_path, sf_dir):
    """A process whose working directory is not the repo root, with the
    repo only on its own ``sys.path`` (not in ``PYTHONPATH``), starts
    Python workers that cannot import the package; the queries whose
    stages run Python must still match their oracles in such a
    process's bare session (q_multimodal_decode is rows-only: it must
    run)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES
        from tests.oracle_utils import compare, duckdb_conn
        spark = SparkSession.builder.master("local[2]").getOrCreate()
        con = duckdb_conn({sf_dir!r})
        for name in {PYTHON_STAGE_QUERIES!r}:
            try:
                df = QUERIES[name](spark, {sf_dir!r})
                if name in ORACLES:
                    ok, msg = compare(df, con.execute(ORACLES[name]).df())
                else:
                    ok, msg = len(df.collect()) >= 0, "rows-only"
            except Exception as ex:
                ok, msg = False, f"{{type(ex).__name__}}: {{ex}}"
            print("RESULT", name, ok, msg[:200].replace(chr(10), " "))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    results = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    assert len(results) == len(PYTHON_STAGE_QUERIES), out.stderr[-2000:]
    assert [r for r in results if " True " not in r] == []
