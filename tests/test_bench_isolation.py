"""bench.py fault isolation: one broken query must not erase the other
measurements — the harness records an err entry and still prints the
JSON lines (one query's analysis error once aborted a whole run)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # end-to-end job/pipeline tier; fast tier is -m 'not slow'

import json
import os

import bench
from telecom_competitor_analysis_spark.plans import QUERIES


def test_broken_query_yields_partial_bench(spark, monkeypatch, capsys):
    def broken(_spark, _sf_dir):
        raise RuntimeError("deliberately broken for the isolation test")

    monkeypatch.setitem(QUERIES, "q_broken_test_only", broken)
    monkeypatch.setattr(bench, "HEADLINE", ["q_topk", "q_broken_test_only"])
    monkeypatch.setattr(bench, "HEADLINE_EXT", ["q_key_skew", "q_pivot_dynamic"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    repo_root = os.path.dirname(os.path.abspath(bench.__file__))
    before = sorted(os.listdir(repo_root))

    bench.main()

    # stdout is the only output: the repo root gains no file
    assert sorted(os.listdir(repo_root)) == before

    lines = capsys.readouterr().out.strip().splitlines()
    parsed = json.loads(lines[-2])  # full line (first of the two)
    assert "q_topk" in parsed["queries"]
    assert parsed["queries"]["q_topk"] > 0
    assert "q_broken_test_only" not in parsed["queries"]
    assert "deliberately broken" in parsed["errors"]["q_broken_test_only"]
    assert parsed["queries_ext"]["q_key_skew"] > 0
    assert parsed["queries_ext"]["q_pivot_dynamic"] > 0
    assert parsed["value_ext"] > 0
    # the run-to-run spread rides in the full line: [min, median, max]
    spread = parsed["queries_spread"]["q_topk"]
    assert spread == sorted(spread) and spread[0] == parsed["queries"]["q_topk"]
    # the LAST stdout line is the compact tail-sized twin — same
    # headline queries dict and totals, no methodology/ext dict, small
    # enough for a bounded stdout tail.
    compact = json.loads(lines[-1])
    assert compact["queries"] == parsed["queries"]
    assert compact["value"] == parsed["value"]
    assert compact["value_ext"] == parsed["value_ext"]
    assert compact["metric"] == parsed["metric"]
    assert compact["n_errors"] == 1
    assert "queries_ext" not in compact and "methodology" not in compact

