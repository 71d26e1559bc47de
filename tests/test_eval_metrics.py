"""Behavior tests for the round-9 wave: eval metrics (pass@k, Wilson
win-rate CI, ROUGE-2), data-contract expectations, the scaling fit,
and the graph operators (TextRank, label propagation). The oracles
prove cross-engine parity end-to-end; these pin hand-computed values
and operator-level edge cases on crafted rows. Also plan shapes and
invariants of the stats-family BLEU, Poisson-bootstrap and Spearman
queries."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.graph import (
    label_propagation,
    textrank_scores,
)
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.plans.stats import (
    PASS_AT_K_EXPR,
    _wilson_sql,
)
from tests.oracle_utils import formatted_plan


def test_pass_at_k_expr_hand_computed(spark):
    """pass@5 product form vs hand-computed combinatorics:
    n=10,c=3 -> 1 - C(7,5)/C(10,5) = 1 - 21/252; degenerate branches
    are integer-exact."""
    df = spark.createDataFrame(
        [(10, 3), (5, 0), (6, 3), (4, 2), (4, 0), (10, 10)],
        "n long, c long",
    )
    got = {
        (r.n, r.c): r.p
        for r in df.select(
            "n", "c", F.expr(PASS_AT_K_EXPR).alias("p")
        ).collect()
    }
    assert got[(10, 3)] == round((1 - 21 / 252) * 1_000_000)  # 916667
    assert got[(5, 0)] == 0
    assert got[(6, 3)] == 1_000_000   # n-c=3 < k -> C(n-c,k)=0
    assert got[(4, 2)] == 1_000_000   # n < k, c > 0
    assert got[(4, 0)] == 0           # n < k, c = 0
    assert got[(10, 10)] == 1_000_000


def test_wilson_ci_hand_computed(spark):
    """Wilson 95% bounds vs the same formula replicated in Python
    (identical literals + op order -> identical IEEE doubles)."""
    df = spark.createDataFrame([(10, 8), (100, 50), (3, 0)], "n long, w long")
    rows = {
        r.n: (r.lo, r.hi)
        for r in df.select(
            "n",
            F.expr(_wilson_sql("low")).alias("lo"),
            F.expr(_wilson_sql("high")).alias("hi"),
        ).collect()
    }

    def wilson(n, w, sign):
        p = float(w) / n
        half = 1.96 * math.sqrt(p * (1.0 - p) / n + 0.9604 / (n * n))
        return round(
            ((p + 1.9208 / n + sign * half) / (1.0 + 3.8416 / n)) * 1_000_000
        )

    for n, w in ((10, 8), (100, 50), (3, 0)):
        assert rows[n] == (wilson(n, w, -1), wilson(n, w, +1)), (n, w)
    # bounds stay inside [0, 1e6] even at the edges (the Wilson point)
    assert 0 <= rows[3][0] and rows[3][1] <= 1_000_000


def test_rouge2_clipped_counts(spark, tmp_path, monkeypatch):
    """ROUGE-2 clipping: ref 'a b a b c' / cand 'a b c d' -> clipped
    overlap 2 of 4 reference bigrams = recall 0.5."""
    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b c d"), (2, "x y z"), (3, "x y q")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(out.rstrip("/") + "/documents.parquet")
    row = {
        r.pair_id: r
        for r in QUERIES["q_rouge_n"](spark, out).collect()
    }
    assert row[0].n_ref_bigrams == 4
    assert row[0].n_overlap_clipped == 2  # min(2,1) for 'a b' + 'b c'
    assert row[0].rouge2_recall_micro == 500_000
    assert row[0].ref_id == 0 and row[0].cand_id == 1
    # pair 1: ref 'x y z' bigrams {x y, y z}; cand shares only 'x y'
    assert row[1].n_ref_bigrams == 2 and row[1].n_overlap_clipped == 1


def test_expectations_all_pass_on_clean_testdata(spark, sf_dir):
    rows = {r.check_name: r for r in QUERIES["q_expectations"](spark, sf_dir).collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert r.n_violations == 0 and bool(r.passed), r
    assert rows["orders.o_orderkey unique"].n_rows > 0


def test_scaling_fit_recovers_planted_exponent(spark, tmp_path):
    """chars = words^2 exactly -> log-log slope ~ 2.0 (milli-rounded
    logs keep it within a few thousand micro of exact)."""
    rows = [
        (i, " ".join(f"w{j}" for j in range(10 + (i * 7) % 90)), "s0")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs = docs.withColumn(
        "n_chars",
        (F.size(F.split(F.trim("text"), " "))
         * F.size(F.split(F.trim("text"), " "))).cast("long"),
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(out + "/documents.parquet")
    got = QUERIES["q_scaling_fit"](spark, out).collect()
    assert len(got) == 1
    assert abs(got[0].slope_micro - 2_000_000) < 5_000
    assert abs(got[0].intercept_milli_micro) < 5_000_000
    assert got[0].n == 60


def test_textrank_hand_computed(spark):
    """Path graph a-b-c: hub b outranks leaves, integer fixpoint
    matches the hand-unrolled two iterations."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    got = {r.word: (r.deg, r.s) for r in textrank_scores(edges, iters=2).collect()}
    assert got == {
        "a": (1, 936_250),
        "b": (2, 1_127_500),
        "c": (1, 936_250),
    }


def test_label_propagation_star_and_isolated(spark):
    """Star 0-(1,2,3): leaves adopt the hub's label round 1; the hub
    takes the smallest neighbor label on the 3-way tie; round 2
    re-propagates synchronously. Isolated node 9 keeps its own."""
    nodes = spark.createDataFrame(
        [(i, i) for i in (0, 1, 2, 3, 9)], "node long, label long"
    )
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "u long, v long"
    )
    r1 = {r.node: r.label for r in label_propagation(nodes, edges, rounds=1).collect()}
    assert r1 == {0: 1, 1: 0, 2: 0, 3: 0, 9: 9}
    r2 = {r.node: r.label for r in label_propagation(nodes, edges, rounds=2).collect()}
    # round 2 from r1: leaves see hub label 1; hub sees {0,0,0} -> 0
    assert r2 == {0: 0, 1: 1, 2: 1, 3: 1, 9: 9}


def test_winrate_ties_count_for_kb(spark, tmp_path):
    """The stated tie convention: equal values -> the k_b side wins."""
    rows = [
        # user 1: A then B with equal values (tie -> win for k_b=B
        # means win_a=0), then B then A where A wins
        (1, "2024-01-01 00:00:00", 1, "A", 5.0),
        (2, "2024-01-01 00:01:00", 1, "B", 5.0),
        (3, "2024-01-01 00:02:00", 1, "B", 1.0),
        (4, "2024-01-01 00:03:00", 1, "A", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn("props", F.lit(None).cast("string"))
    out = str(tmp_path / "ev")
    ev.write.parquet(out + "/events.parquet")
    got = QUERIES["q_winrate_ci"](spark, out).collect()
    assert len(got) == 1
    r = got[0]
    # matches: (A,B) tie -> 0; (B,B) filtered (same type)? no: the
    # consecutive pairs are (A,B), (B,B) dropped, (B,A) A wins -> 1
    assert (r.k_a, r.k_b) == ("A", "B")
    assert r.n == 2 and r.w == 1
    assert r.winrate_micro == 500_000
    assert r.ci_low_micro < 500_000 < r.ci_high_micro


def test_bootstrap_ci_fanout_collapses_before_exchange(spark, sf_dir):
    # the ×32 explode is map-side; the shuffle carries (source, rep)
    # partial aggregates; the rank window sees 32 rows per source
    plan = formatted_plan(QUERIES["q_bootstrap_ci"](spark, sf_dir))
    assert "Generate" in plan and "explode(" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_rank_correlation_windows_over_distinct_values_only(spark, sf_dir):
    # every Window's input must be an aggregate (value-cardinality
    # rows), never the raw doc scan
    plan = formatted_plan(QUERIES["q_rank_correlation"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    # the doc-level tokenize feeds ONLY groupBys: a Window directly over
    # a FileScan would show a window operator with no aggregate between
    # it and the scan — pin via operator counts: 2 rank windows, and at
    # least 3 aggregates (g, xc/yc, final sums)
    assert plan.count("Window") >= 2
    assert plan.count("HashAggregate") >= 6  # partial+final per groupBy


def test_bleu_join_keys_match_count_keys(spark, sf_dir):
    # clip join on (pair, n, gram) — the same key the counts hashed on;
    # no cartesian; everything partial-aggregates
    plan = formatted_plan(QUERIES["q_bleu"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_bleu_bounds_and_clip_invariants(spark, sf_dir):
    rows = QUERIES["q_bleu"](spark, sf_dir).collect()
    assert rows, "no pairs at this SF"
    for r in rows:
        assert 0 <= r.bleu2_micro <= 1_000_000
        assert r.n1 <= r.d1 and r.n2 <= r.d2
        assert r.ref_id % 2 == 0 and r.cand_id % 2 == 1


def test_bootstrap_ci_orders_and_is_deterministic(spark, sf_dir):
    q = QUERIES["q_bootstrap_ci"]
    a = {r.source: r for r in q(spark, sf_dir).collect()}
    b = {r.source: r for r in q(spark, sf_dir).collect()}
    assert a.keys() == b.keys() and len(a) > 0
    for s, r in a.items():
        assert r.boot_lo_micro <= r.boot_hi_micro
        assert r.b == 32
        # hash-seeded weights → bit-stable across runs
        assert (r.boot_lo_micro, r.boot_hi_micro) == (
            b[s].boot_lo_micro,
            b[s].boot_hi_micro,
        )
        # Poisson(1) weights have mean 1 → replicate means track the
        # point estimate; even at sf0.001's 25 docs/source the 93.75%
        # interval stays within ±45% of it (width ∝ 1/√n)
        assert abs(r.boot_lo_micro - r.point_mean_micro) < (
            0.45 * r.point_mean_micro
        )
        assert abs(r.boot_hi_micro - r.point_mean_micro) < (
            0.45 * r.point_mean_micro
        )


def test_rank_correlation_in_range_and_positive_on_length_signals(
    spark, sf_dir
):
    rows = QUERIES["q_rank_correlation"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1_000_000 <= r.spearman_micro <= 1_000_000
        # chars and whitespace tokens order a natural corpus the same
        # way — strongly positive at every source
        assert r.spearman_micro > 500_000
