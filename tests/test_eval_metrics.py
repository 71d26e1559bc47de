"""Behavior tests for the round-9 wave: eval metrics (pass@k, Wilson
win-rate CI, ROUGE-2), data-contract expectations, the scaling fit,
and the graph operators (TextRank, label propagation). The oracles
prove cross-engine parity end-to-end; these pin hand-computed values
and operator-level edge cases on crafted rows. Also plan shapes and
invariants of the stats-family queries (BLEU, Poisson bootstrap,
Spearman, the privacy, sketch and split audits)."""

from __future__ import annotations

import math

import pytest
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
from telecom_competitor_analysis_spark.sources.readers import load_table
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


def test_l_diversity_bounds(spark, sf_dir):
    r = QUERIES["q_l_diversity"](spark, sf_dir).collect()[0]
    assert r.n_classes >= 1
    assert 1 <= r.min_l_diversity <= 5  # 5 market segments exist
    assert r.n_risky_classes <= r.n_classes
    assert 0 <= r.risky_micro <= 1_000_000


def test_chrf_scores_in_range(spark, sf_dir):
    rows = QUERIES["q_chrf"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.f1_micro <= 1_000_000
        assert 0 <= r.f2_micro <= 1_000_000
        assert 0 <= r.chrf_micro <= 1_000_000
        assert r.chrf_micro == (r.f1_micro + r.f2_micro) // 2


def test_group_kfold_no_pair_straddles_folds(spark, sf_dir):
    # the leakage property itself: every LSH candidate pair lands in
    # ONE fold (same component -> same cluster_id -> same mod-5 fold)
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )
    from telecom_competitor_analysis_spark.plans.dedup import (
        _materialized_lsh_pairs,
    )
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table as lt,
    )

    docs = lt(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    cl = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    fold = {r.id: r.cluster_id % 5 for r in cl.collect()}
    for p in pairs.collect():
        assert fold[p.id_a] == fold[p.id_b]
    # and the declared rollup accounts for every doc exactly once
    rows = QUERIES["q_group_kfold"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(0 <= r.fold <= 4 for r in rows)


def test_mi_lang_source_cells_cover_corpus(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table as lt,
    )

    rows = QUERIES["q_mi_lang_source"](spark, sf_dir).collect()
    n = lt(spark, sf_dir, "documents").count()
    assert sum(r.n_xy for r in rows) == n
    import math

    bound = int(math.log(n) * 1_000_000) + 1
    for r in rows:
        assert -bound <= r.pmi_micro <= bound


def test_gini_bounds(spark, sf_dir):
    r = QUERIES["q_gini_concentration"](spark, sf_dir).collect()[0]
    # discrete Gini with the truncating-division form can dip a hair
    # under 0 on perfectly balanced data; bound with the 1/n slack
    assert -1_000_000 // r.n_sources <= r.gini_micro < 1_000_000
    assert r.total_tokens > 0


def test_laplace_table_scales_inversely_with_epsilon():
    """The mechanism's calibration pin: the quantized noise table at
    eps is exactly (up to rounding) 2x the table at 2*eps — Laplace
    scale b = sensitivity/eps, so halving the privacy budget doubles
    every noise level. Also pins antisymmetry and monotonicity."""
    from telecom_competitor_analysis_spark.plans.stats import (
        _laplace_micro_table,
    )

    t_half = _laplace_micro_table(eps_micro=500_000)
    t_one = _laplace_micro_table(eps_micro=1_000_000)
    assert len(t_half) == 64
    for a, b in zip(t_half, t_one):
        assert abs(a - 2 * b) <= 1  # integer rounding only
    # antisymmetric around the center, strictly increasing
    for k in range(64):
        assert abs(t_half[k] + t_half[63 - k]) <= 1
    assert t_half == sorted(t_half) and t_half[0] < 0 < t_half[-1]


def test_dp_histogram_mechanism_arithmetic(spark, sf_dir):
    """Release-table invariants at the declared eps=0.5: noise values
    come from the 64-level table, released = max(0, true*1e6 + noise),
    epsilon/sensitivity accounting constant, and the noise is actually
    exercised in both directions on the fixture."""
    from telecom_competitor_analysis_spark.plans.stats import (
        _laplace_micro_table,
    )

    table = set(_laplace_micro_table())
    rows = QUERIES["q_dp_histogram"](spark, sf_dir).collect()
    assert rows
    assert any(r.noise_micro < 0 for r in rows)
    assert any(r.noise_micro > 0 for r in rows)
    for r in rows:
        assert r.noise_micro in table
        assert r.released_micro == max(
            0, r.true_n * 1_000_000 + r.noise_micro
        )
        assert r.epsilon_micro == 500_000
        assert r.sensitivity == 1


def test_countmin_never_underestimates(spark, sf_dir):
    """The CM mechanism's signature, pinned: every point estimate >=
    the true count (counters only ever gain colliding mass), exactly
    20 probe words, and the bound column is the 2N/w budget."""
    rows = QUERIES["q_countmin_audit"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cm_est >= r.true_freq
        assert r.overestimate == r.cm_est - r.true_freq
        assert r.within_bound == (r.overestimate <= r.bound)


def test_ams_f2_order_stats_and_error(spark, sf_dir):
    """AMS audit invariants: one row, min <= lower-median <= max,
    err_micro consistent with the released numbers, true F2 >= N
    (every word contributes at least freq)."""
    [r] = QUERIES["q_ams_f2"](spark, sf_dir).collect()
    assert r.min_est <= r.median_est <= r.max_est
    assert r.true_f2 > 0
    assert r.err_micro == abs(r.median_est - r.true_f2) * 1_000_000 // r.true_f2


def test_hll_audit_regimes_and_error(spark, sf_dir):
    """HLL audit invariants: positive estimates, err arithmetic
    consistent, and the linear-counting regime switch is exactly the
    released rule (n_zero > 0 and est_raw < 2.5m -> table value)."""
    from telecom_competitor_analysis_spark.plans.stats import _hll_lc_table

    lc = _hll_lc_table()
    rows = QUERIES["q_hll_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_distinct > 0 and r.est > 0
        assert r.err_micro == abs(r.est - r.exact_distinct) * 1_000_000 // r.exact_distinct
        if r.n_zero > 0 and r.est_raw * 2 < 5 * 64:
            assert r.est == lc[r.n_zero - 1]
        else:
            assert r.est == r.est_raw


def test_temporal_split_conservation(spark, sf_dir):
    """Split audit identities: every row lands on exactly one side,
    spanning users bounded by both side counts, leak rate arithmetic
    recomputable from released integers."""
    rows = QUERIES["q_temporal_split"](spark, sf_dir).collect()
    assert rows
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    totals = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        assert r.train_rows + r.test_rows == totals[r.event_type]
        assert r.spanning_users <= min(r.train_users, r.test_users)
        assert r.leak_micro == r.spanning_users * 1_000_000 // max(
            r.test_users, 1
        )


def test_lang_confusion_mass_conservation(spark, sf_dir):
    """Confusion-matrix identities: per declared language the cells sum
    to the language's doc count and row_micro is the released integer
    rate; the diagonal flag matches the cell key."""
    rows = QUERIES["q_lang_confusion"](spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
        assert r.is_match == (r.lang == r.pred_lang)
    docs = load_table(spark, sf_dir, "documents")
    totals = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for lang, cells in by_lang.items():
        tot = sum(c.n_docs for c in cells)
        assert tot == totals[lang]
        for c in cells:
            assert c.row_micro == c.n_docs * 1_000_000 // tot


def test_quantile_sketch_exact_is_true_order_stat(spark, sf_dir):
    """The two-pass selection must return the TRUE k-th order
    statistic: recompute k = 1 + p(n-1)//100 and the sorted cents
    value directly and compare; the estimate must stay inside the
    containing bin's [min, max] by construction."""
    rows = {
        r.p: r
        for r in QUERIES["q_quantile_sketch_audit"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {25, 50, 75, 90, 99}
    cents = sorted(
        r["cents"]
        for r in load_table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents")
        )
        .collect()
    )
    n = len(cents)
    for p, r in rows.items():
        k = 1 + p * (n - 1) // 100
        assert r.exact_cents == cents[k - 1]
        assert r.err_cents == r.est_cents - r.exact_cents
        assert (
            r.err_micro
            == abs(r.err_cents) * 1_000_000 // r.exact_cents
        )


def test_aa_calibration_no_effect(spark, sf_dir):
    """A/A invariants: all four cells populated (the above-average
    spend metric is non-degenerate by construction), chi2 recomputable
    from the released cells via the same staged division, and — the
    point of an A/A run — no significant effect on the fixture."""
    [r] = QUERIES["q_aa_calibration"](spark, sf_dir).collect()
    assert min(r.a, r.b, r.c, r.d) > 0
    assert r.n_users == r.a + r.b + r.c + r.d
    det = r.a * r.d - r.b * r.c

    def sdiv(x, m):
        return -((-x) // m) if x < 0 else x // m

    chi_a = sdiv(det * 1000, r.a + r.b)
    chi_b = sdiv(chi_a * det, r.c + r.d)
    assert r.chi2_micro == chi_b * r.n_users * 1000 // (
        (r.a + r.c) * (r.b + r.d)
    )
    assert r.significant == (r.chi2_micro > 3_841_000)
    assert not r.significant


def test_hll_merge_is_lossless(spark, sf_dir):
    """THE mergeability pin: register-wise max merge of the two halves
    must reproduce the single-pass registers exactly — zero mismatches,
    equal estimates, for every event_type."""
    rows = QUERIES["q_hll_merge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.register_mismatches == 0
        assert r.estimates_equal
        assert 1 <= r.n_registers <= 64


def test_dp_mean_mechanism(spark, sf_dir):
    """Clipped-mean release arithmetic: clipped sum within +/-C*n,
    noise from the sensitivity-2C table, released columns
    recomputable, accounting constant."""
    from telecom_competitor_analysis_spark.plans.stats import (
        DP_MEAN_CLIP_CENTS,
        _laplace_micro_table,
    )

    table = set(
        _laplace_micro_table(500_000, 64, 2 * DP_MEAN_CLIP_CENTS)
    )
    rows = QUERIES["q_dp_mean"](spark, sf_dir).collect()
    assert rows

    def sdiv(x, m):
        return -((-x) // m) if x < 0 else x // m

    for r in rows:
        assert abs(r.clipped_sum_cents) <= DP_MEAN_CLIP_CENTS * r.n_customers
        assert r.noise_microcents in table
        assert (
            r.released_sum_microcents
            == r.clipped_sum_cents * 1_000_000 + r.noise_microcents
        )
        assert r.released_mean_microcents == sdiv(
            r.released_sum_microcents, r.n_customers
        )
        assert r.sensitivity_cents == 2 * DP_MEAN_CLIP_CENTS


@pytest.fixture(scope="module")
def bt_dup_dir(spark, tmp_path_factory) -> str:
    """A lineitem fixture with PLANTED duplicate (part, supplier, price)
    triples: 3 suppliers quote 2 parts; supplier 1's quote on part 10 is
    duplicated 3x and supplier 2's 2x, so the raw comparison join sees
    m_a*m_b copies of the same outcome wherever duplicates meet."""
    rows = []
    quotes = [
        # (partkey, suppkey, price, multiplicity)
        (10, 1, 100.0, 3),
        (10, 2, 200.0, 2),
        (10, 3, 150.0, 1),
        (20, 1, 500.0, 2),
        (20, 2, 400.0, 1),
        (20, 3, 400.0, 2),  # tie with supplier 2 -> dropped pairs
    ]
    for pk, sk, price, m in quotes:
        rows += [(pk, sk, price)] * m
    d = str(tmp_path_factory.mktemp("btdup"))
    spark.createDataFrame(
        rows, "l_partkey long, l_suppkey long, l_extendedprice double"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return d



def test_bt_counts_planted_duplicate_quotes_with_multiplicity(spark, bt_dup_dir):
    q = QUERIES["q_bradley_terry"]
    raw = {r.s_suppkey: r for r in q(spark, bt_dup_dir).collect()}
    assert set(raw) == {1, 2, 3}
    # the fixture's duplicates are real: part 10 supplier1 x supplier2
    # meets 3*2 = 6 times in the raw join, so n_comparisons counts
    # multiplicity (supplier 1: 3*2 [s2,p10] + 3*1 [s3,p10] +
    # 2*1 [s2,p20] + 2*2 [s3,p20] = 15, of which the 9 part-10
    # comparisons are wins)
    assert raw[1].n_comparisons == 15
    assert raw[1].wins == 9



def test_t_closeness_dominates_l_diversity_classes(spark, sf_dir):
    t = QUERIES["q_t_closeness"](spark, sf_dir).collect()[0]
    l = QUERIES["q_l_diversity"](spark, sf_dir).collect()[0]
    assert t.n_classes == l.n_classes  # same QI definition
    assert 0 <= t.max_t_micro <= 1_000_000
    assert t.n_risky_classes <= t.n_classes
    assert t.n_risky_rows >= t.n_risky_classes  # every class has >=1 row



def test_anomaly_mad_fence_arithmetic(spark, sf_dir):
    rows = QUERIES["q_anomaly_mad"](spark, sf_dir).collect()
    assert {r.o_orderstatus for r in rows} == {"F", "O", "P"}
    for r in rows:
        assert r.mad_cents > 0
        # uniform synthetic totals: max dev ~= 2*MAD, fence at
        # 3*1.4826*MAD is never crossed — z proves the fence ran
        assert 0 < r.worst_z_milli < 3000
        assert r.n_outliers == 0
        # medians land on the half-cent grid exactly
        assert (r.median_cents * 2) == int(r.median_cents * 2)

