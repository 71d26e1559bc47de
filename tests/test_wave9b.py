"""Round-9 second wave: plan shapes + behavioral invariants for BLEU,
Poisson bootstrap, MMR, CDC chunking, Spearman, silhouette, Zipf.
Oracle parity itself rides tests/test_oracle_parity.py automatically."""

from __future__ import annotations

from telecom_competitor_analysis_spark.plans import QUERIES


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------- plans


def test_cdc_chunks_has_no_pair_stage(spark, sf_dir):
    # CDC's whole point: sharing is a groupBy on the digest — no join,
    # no cartesian, anywhere
    plan = _plan(QUERIES["q_cdc_chunks"](spark, sf_dir))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bootstrap_ci_fanout_collapses_before_exchange(spark, sf_dir):
    # the ×32 explode is map-side; the shuffle carries (source, rep)
    # partial aggregates; the rank window sees 32 rows per source
    plan = _plan(QUERIES["q_bootstrap_ci"](spark, sf_dir))
    assert "Generate" in plan and "explode(" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_rank_correlation_windows_over_distinct_values_only(spark, sf_dir):
    # every Window's input must be an aggregate (value-cardinality
    # rows), never the raw doc scan
    plan = _plan(QUERIES["q_rank_correlation"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    # the doc-level tokenize feeds ONLY groupBys: a Window directly over
    # a FileScan would show a window operator with no aggregate between
    # it and the scan — pin via operator counts: 2 rank windows, and at
    # least 3 aggregates (g, xc/yc, final sums)
    assert plan.count("Window") >= 2
    assert plan.count("HashAggregate") >= 6  # partial+final per groupBy


def test_zipf_fit_topk_is_never_a_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["q_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_bleu_join_keys_match_count_keys(spark, sf_dir):
    # clip join on (pair, n, gram) — the same key the counts hashed on;
    # no cartesian; everything partial-aggregates
    plan = _plan(QUERIES["q_bleu"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_compute_bound_map_queries_keep_the_parallelism_guard(
    spark, sf_dir
):
    # r9 full-surface ×10 finding: pii_scrub/fertility/embedding_quantize
    # serialized compute-bound regex/HOF stages onto a 1-2-split scan
    # (14×/6.2×/6.2× at ×10). The guard repartitions under-split scans;
    # at the tiny test SF that must show as a round-robin exchange in
    # the plan. Regression here = someone dropped the guard.
    for q in ("q_pii_scrub", "q_fertility", "q_embedding_quantize"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "roundrobin" in plan.lower(), q


def test_ndcg_both_legs_end_in_partial_topk(spark, sf_dir):
    # exact and approx legs must both carry the WindowGroupLimit
    # partial top-k so the metric join sees ≤ 2·k·|queries| rows
    plan = _plan(QUERIES["q_ndcg"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2
    assert "rangepartitioning" not in plan


# ----------------------------------------------------------- behavior


def test_ndcg_bounds_and_consistency_with_recall(spark, sf_dir):
    ndcg = {r.query_id: r for r in QUERIES["q_ndcg"](spark, sf_dir).collect()}
    recall = {
        r.query_id: r.n_matched
        for r in QUERIES["q_ann_recall"](spark, sf_dir).collect()
    }
    assert ndcg.keys() == recall.keys()
    for q, r in ndcg.items():
        assert 0 <= r.ndcg_micro <= 1_000_000
        assert 0 <= r.rr_micro <= 1_000_000
        # same hit set as recall@10 by construction
        assert r.n_hits == recall[q]
        if r.n_hits == 10:
            assert r.ndcg_micro > 0


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


def test_mmr_ranks_scores_and_diversity_shape(spark, sf_dir):
    rows = sorted(
        QUERIES["q_mmr_select"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == [1, 2, 3, 4]
    assert len({r.vec_id for r in rows}) == 4
    # rank 1 is the pure-relevance argmax; from rank 2 on, greedy
    # scores are provably non-increasing (the penalty set grows and the
    # candidate set shrinks). rank1 -> rank2 is NOT an invariant: with
    # negative cosine sims, 7*rel - 3*max_sim can exceed 7*rel1 —
    # asserting it would be fixture-coupled (r9 ADVICE).
    assert rows[0].mmr_score == rows[0].rel_micro * 7
    for a, b in zip(rows[1:], rows[2:]):
        assert a.mmr_score >= b.mmr_score


def test_cdc_chunks_share_counts_consistent(spark, sf_dir):
    for r in QUERIES["q_cdc_chunks"](spark, sf_dir).collect():
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs
        assert r.len_words >= 1


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


def test_silhouette_bounds_and_partition_of_corpus(spark, sf_dir):
    rows = QUERIES["q_silhouette"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 4
    from telecom_competitor_analysis_spark.sources.readers import load_table

    total = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert -1_000_000 <= r.min_silhouette_micro <= 1_000_000
        assert -1_000_000 <= r.mean_silhouette_micro <= 1_000_000
        assert r.min_silhouette_micro <= r.mean_silhouette_micro


def test_zipf_slope_negative(spark, sf_dir):
    row = QUERIES["q_zipf_fit"](spark, sf_dir).collect()[0]
    assert row.n_words <= 1000
    assert row.slope_micro < 0
