"""Behavioral tests for the triangle census (operators/graph.py::
triangle_stats) on planted graphs, plus curve-shape checks for the
mutation-recall S-curve and agreement-positivity for Cohen's kappa —
the oracle sweep proves engine agreement; these pin the semantics.
Also pins the lineage truncation of pagerank_micro and triangle_stats,
and bounds of the graph-family queries (k-core, assortativity,
modularity)."""

from __future__ import annotations

import pytest

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


@pytest.mark.slow  # plan-shape tier, runs real Spark jobs
def test_pagerank_micro_truncates_lineage(spark):
    """r13: pagerank_micro replaces the r12 nodes/deg persists with lazy
    localCheckpoints (nodes, deg, and the per-iteration rank iterate) —
    the executed plan must read checkpointed RDDs instead of re-deriving
    the edge pipeline per reference, results staying byte-stable across
    runs (the integer-micro exactness fixture lives in test_dedup.py)."""
    from telecom_competitor_analysis_spark.operators.graph import (
        pagerank_micro,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 1), (1, 4)],
        "src long, dst long",
    )
    df = pagerank_micro(edges, iters=3)
    rows = sorted(map(tuple, df.collect()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the LAST iterate is itself checkpointed, so the final plan is a
    # projection over ONE checkpointed RDD — every nodes/deg/iterate
    # boundary below it is hidden behind that scan. What must hold:
    # at least one checkpoint boundary, and no InMemoryTableScan (the
    # r12 persists are gone — nothing stays warm across bench runs).
    assert plan.count("Scan ExistingRDD") >= 1
    assert "InMemoryTableScan" not in plan
    again = sorted(map(tuple, pagerank_micro(edges, iters=3).collect()))
    assert rows == again


@pytest.mark.slow  # plan-shape tier, runs real Spark jobs
def test_triangle_stats_truncates_deg_and_oriented(spark):
    """r13: triangle_stats localCheckpoints deg (3 references) and the
    oriented edge list (both wedge-join sides); the executed plan of the
    final census must read checkpointed RDDs, and the planted-graph
    census (K4 + a pendant edge) stays exact: C(4,3) = 4 triangles,
    wedges = Σ C(deg,2) = 3·C(3,2) + C(4,2) = 15."""
    from telecom_competitor_analysis_spark.operators.graph import (
        triangle_stats,
    )

    # K4 on {1,2,3,4} plus pendant edge (4,5)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 5)], "id_a long, id_b long")
    df = triangle_stats(edges)
    row = df.collect()[0]
    assert row.n_nodes == 5 and row.n_edges == 7
    assert row.n_triangles == 4
    # degrees: 1,2,3 -> 3; 4 -> 4; 5 -> 1; wedges = 3*C(3,2) + C(4,2)
    assert row.n_wedges == 3 * 3 + 6
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 2


def test_kcore_counts_monotone_nonincreasing(spark, sf_dir):
    rows = sorted(
        QUERIES["q_kcore"](spark, sf_dir).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        # peeling only removes: survivor counts never grow
        assert b.n_nodes <= a.n_nodes
        assert b.n_edges <= a.n_edges


def test_assortativity_in_range(spark, sf_dir):
    r = QUERIES["q_assortativity"](spark, sf_dir).collect()[0]
    assert -1_000_000 <= r.assortativity_micro <= 1_000_000
    assert r.n_directed_edges % 2 == 0  # both orientations present


def test_graph_modularity_identities(spark, sf_dir):
    """Newman-Q sanity on the LP communities: every released community
    has degree, the degree sums over released rows account for BOTH
    endpoints of every edge (zero-degree singletons contribute
    nothing), intra-edge counts never exceed the graph size, and the
    total Q is positive (the LP partition of a near-dup graph beats
    chance) and bounded by 1."""
    from telecom_competitor_analysis_spark.plans.dedup import (
        _materialized_lsh_pairs,
    )

    rows = QUERIES["q_graph_modularity"](spark, sf_dir).collect()
    assert rows
    m = _materialized_lsh_pairs(spark, sf_dir).count()
    assert sum(r.degree_sum for r in rows) == 2 * m
    assert sum(r.intra_edges for r in rows) <= m
    q = sum(r.contrib_micro for r in rows)
    assert 0 < q <= 1_000_000
    for r in rows:
        assert r.degree_sum > 0 and r.n_nodes >= 1


def test_local_clustering_on_planted_graph(spark):
    # K4 plus a pendant: cc(K4 nodes not on the pendant) = 1,
    # cc(attachment node, deg 4) = 3 triangles / 6 wedges = 0.5
    from telecom_competitor_analysis_spark.operators.graph import (
        local_clustering,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "id_a long, id_b long",
    )
    lc = {r.v: r for r in local_clustering(edges).collect()}
    assert lc[1].n_tri == 3 and lc[1].deg == 3
    assert lc[4].n_tri == 3 and lc[4].deg == 4
    assert lc[5].n_tri == 0 and lc[5].deg == 1
    total_tri = sum(r.n_tri for r in lc.values())
    assert total_tri == 3 * 4  # 4 triangles in K4, each credits 3 nodes



def test_clustering_coeff_bounds(spark, sf_dir):
    rows = QUERIES["q_clustering_coeff"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.deg_bucket
        assert 0 <= r.avg_cc_micro <= r.max_cc_micro <= 1_000_000

