"""bench.py fault isolation: one broken query must not erase the other
measurements — the harness records an err entry and still prints the
JSON line (round-3's BENCH was a DNF because q_sessionize's analysis
error aborted the whole run)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # end-to-end job/pipeline tier; fast tier is -m 'not slow'

import json

import bench
from telecom_competitor_analysis_spark.plans import QUERIES


def test_broken_query_yields_partial_bench(spark, monkeypatch, capsys):
    def broken(_spark, _sf_dir):
        raise RuntimeError("deliberately broken for the isolation test")

    monkeypatch.setitem(QUERIES, "q_broken_test_only", broken)
    monkeypatch.setattr(bench, "HEADLINE", ["q_topk", "q_broken_test_only"])
    monkeypatch.setattr(bench, "HEADLINE_EXT", ["q_key_skew", "q_pivot_dynamic"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    # keep the repo root clean: no BENCH_LOCAL artifact from a test run
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ARTIFACT", "0")

    bench.main()

    lines = capsys.readouterr().out.strip().splitlines()
    parsed = json.loads(lines[-2])  # full line (first of the two)
    assert "q_topk" in parsed["queries"]
    assert parsed["queries"]["q_topk"] > 0
    assert "q_broken_test_only" not in parsed["queries"]
    assert "deliberately broken" in parsed["errors"]["q_broken_test_only"]
    assert parsed["queries_ext"]["q_key_skew"] > 0
    assert parsed["queries_ext"]["q_pivot_dynamic"] > 0
    assert parsed["value_ext"] > 0
    # r13 driver-contract fix: the LAST stdout line is the compact
    # tail-sized twin — same headline queries dict and totals, no
    # methodology/ext dict, and small enough for the driver's bounded
    # stdout tail (BENCH_r11's full line was head-truncated there).
    compact = json.loads(lines[-1])
    assert compact["queries"] == parsed["queries"]
    assert compact["value"] == parsed["value"]
    assert compact["value_ext"] == parsed["value_ext"]
    assert compact["metric"] == parsed["metric"]
    assert compact["n_errors"] == 1
    assert "queries_ext" not in compact and "methodology" not in compact


def test_resolve_artifact_path_guards_idle_artifact(tmp_path):
    """A contended re-run must not clobber an idle run's artifact
    (r11 VERDICT item 2): when the existing BENCH_LOCAL started at a
    lower 1-min loadavg, the new run diverts to .contended.json; when
    the new run is calmer (or no/invalid artifact exists), it keeps
    the canonical path."""
    p = tmp_path / "BENCH_LOCAL_r99.json"

    # no existing artifact -> canonical path
    assert bench.resolve_artifact_path(str(p), 5.0) == str(p)

    # existing idle artifact (0.2) vs contended run (6.0) -> side file
    p.write_text(json.dumps({"loadavg_start": [0.2, 1.0, 2.0]}))
    assert bench.resolve_artifact_path(str(p), 6.0) == str(
        tmp_path / "BENCH_LOCAL_r99.contended.json"
    )

    # existing contended artifact (6.0) vs idle run (0.2) -> overwrite
    p.write_text(json.dumps({"loadavg_start": [6.0, 5.0, 4.0]}))
    assert bench.resolve_artifact_path(str(p), 0.2) == str(p)

    # corrupt artifact -> fail open to the canonical path
    p.write_text("not json")
    assert bench.resolve_artifact_path(str(p), 5.0) == str(p)
