"""Behavioral tests for the triangle census (operators/graph.py::
triangle_stats) on planted graphs, plus curve-shape checks for the
mutation-recall S-curve and agreement-positivity for Cohen's kappa —
the oracle sweep proves engine agreement; these pin the semantics."""

from __future__ import annotations

from telecom_competitor_analysis_spark.operators.graph import triangle_stats
from telecom_competitor_analysis_spark.plans import QUERIES


def _stats(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return triangle_stats(df).collect()[0]


def test_triangle_k4_complete_graph(spark):
    # K4: 4 nodes, 6 edges, 4 triangles, 12 wedges, transitivity 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = _stats(spark, k4)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.transitivity_micro == 1_000_000


def test_triangle_path_has_none(spark):
    # a path graph has wedges but zero triangles
    r = _stats(spark, [(1, 2), (2, 3), (3, 4)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 3, 0)
    assert r.n_wedges == 2 and r.transitivity_micro == 0


def test_triangle_counted_once_with_pendant(spark):
    # one triangle + a pendant edge off a hub: the orientation scheme
    # must count the triangle exactly once and the hub's extra wedge
    # must not fabricate a second one
    r = _stats(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    assert r.n_triangles == 1
    # degrees: 1→2, 2→2, 3→3, 4→1 ⇒ wedges = 1+1+3+0 = 5
    assert r.n_wedges == 5
    assert r.transitivity_micro == 3 * 1_000_000 // 5


def test_triangle_empty_graph(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    r = triangle_stats(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (0, 0, 0, 0)
    assert r.transitivity_micro == 0


def test_mutation_recall_curve_shape(spark, sf_dir):
    # the fixture's whole purpose: the S-curve must have data in the
    # MIDDLE (0 < recall < 1) somewhere between the dead low tail and
    # the saturated top decile
    rows = {r.jac_decile: r for r in QUERIES["q_mutation_recall"](spark, sf_dir).collect()}
    assert rows[10].recall_micro == 1_000_000  # identical twins always caught
    assert rows[0].recall_micro == 0  # fully-mutated twins never caught
    mid = [r for d, r in rows.items() if 3 <= d <= 8]
    assert mid, "no mid-Jaccard deciles populated"
    assert any(0 < r.recall_micro < 1_000_000 for r in mid)
    # weak monotonicity of the banding curve at decile granularity:
    # the top half must catch at a higher rate than the bottom half
    lo = [r for d, r in rows.items() if d <= 4]
    hi = [r for d, r in rows.items() if d >= 6]
    lo_rate = sum(r.n_caught for r in lo) / max(1, sum(r.n_pairs for r in lo))
    hi_rate = sum(r.n_caught for r in hi) / max(1, sum(r.n_pairs for r in hi))
    assert hi_rate > lo_rate


def test_annotator_agreement_kappa_positive_and_bounded(spark, sf_dir):
    rows = QUERIES["q_annotator_agreement"](spark, sf_dir).collect()
    assert len(rows) == 3  # the 3 annotator pairs
    for r in rows:
        assert r.n_agree <= r.n
        # 80% ground-truth fidelity ⇒ agreement well above the ~10%
        # chance floor; kappa strictly positive and < 1
        assert r.p_o_micro > r.p_e_micro
        assert 0 < r.kappa_micro < 1_000_000
        # kappa must be BELOW raw agreement (it discounts chance)
        assert r.kappa_micro < r.p_o_micro
