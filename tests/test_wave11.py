"""Round-11 wave tests.

Covers Bradley-Terry comparison counting on a planted-duplicate fixture
and the new r11 operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.plans import QUERIES


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


# --- sub-wave A: bpe_apply / distinct_ngrams / blocklist / event_runs ----


def test_bpe_apply_tokens_reassemble_and_merge(spark, sf_dir):
    rows = QUERIES["q_bpe_apply"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert [r.rank for r in rows] == list(range(1, 21))
    merged_any = False
    for r in rows:
        toks = r.bpe_tokens.split(" ")
        assert "".join(toks) == r.word  # application is lossless
        assert r.n_tokens == len(toks)
        assert r.n_tokens <= len(r.word)
        merged_any |= any(len(t) >= 2 for t in toks)
    assert merged_any  # at least one merge actually applied


def test_bpe_merge_lambda_overlap_semantics(spark):
    # Sennrich overlap rule: "aaa" + merge (a,a) -> ["aa", "a"],
    # never ["a", "aa"] and never a triple merge
    from telecom_competitor_analysis_spark.plans.text import BPE_MERGE_LAMBDA

    body = BPE_MERGE_LAMBDA.format(a="'a'", b="'a'")
    out = spark.sql(
        f"SELECT aggregate(split('a a a', ' '), '', (acc, x) -> {body})"
        " AS t"
    ).collect()[0].t
    assert out == "aa a"


def test_distinct_ngrams_bounds(spark, sf_dir):
    rows = QUERIES["q_distinct_ngrams"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.distinct1_micro <= 1_000_000
        assert 0 < r.distinct2_micro <= 1_000_000
        # bigram slots = token slots - one per multi-word doc
        assert r.n_bigrams < r.n_tokens


def test_blocklist_zero_hit_rules_still_report(spark, sf_dir):
    rows = {r.rule_id: r for r in
            QUERIES["q_blocklist_screen"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert rows[1].n_hits > 0 and rows[1].first_doc is not None
    assert rows[4].n_hits == 0 and rows[4].n_docs == 0
    assert rows[4].first_doc is None


def test_event_runs_partition_totals(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    rows = QUERIES["q_event_runs"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert r.n_runs >= r.n_repeat_runs
        assert 0 <= r.repeat_micro <= 1_000_000
        assert r.max_run_len >= 1


# --- sub-wave B: rbo / two_stage_rerank / ece / t_closeness --------------


def test_rbo_bounds_and_identity(spark, sf_dir):
    from telecom_competitor_analysis_spark.plans.similarity import (
        _rbo_coef_micro,
    )

    coefs = _rbo_coef_micro()
    assert len(coefs) == 10
    assert coefs == sorted(coefs, reverse=True)  # earlier match >= later
    # identical lists sum to ~1.0 (each depth d contributes COEF[d])
    assert abs(sum(coefs) - 1_000_000) <= 10
    rows = QUERIES["q_rbo"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.rbo_micro <= 1_000_010
        if r.n_common == 0:
            assert r.rbo_micro == 0


def test_two_stage_rerank_orders_by_exact(spark, sf_dir):
    rows = QUERIES["q_two_stage_rerank"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.exact_dist for r in rs]
        assert dists == sorted(dists)  # refine stage orders by exact
        assert all(1 <= r.approx_rank <= 50 for r in rs)
        assert all(r.moved == r.approx_rank - r.rank for r in rs)


def test_ece_bins_partition_and_bound(spark, sf_dir):
    rows = QUERIES["q_ece"](spark, sf_dir).collect()
    assert all(0 <= r.bin <= 9 for r in rows)
    for r in rows:
        assert 0 <= r.avg_conf_micro <= 1_000_000
        assert 0 <= r.pass_micro <= 1_000_000
        assert r.gap_micro == abs(r.avg_conf_micro - r.pass_micro)
    # bin edges honored: every doc with conf in [b/10, (b+1)/10) lands
    # in bin b — the min/max normalization guarantees bins 0 and 9 are
    # non-empty (the extreme docs define the bounds)
    bins = {r.bin for r in rows}
    assert 0 in bins and 9 in bins


def test_t_closeness_dominates_l_diversity_classes(spark, sf_dir):
    t = QUERIES["q_t_closeness"](spark, sf_dir).collect()[0]
    l = QUERIES["q_l_diversity"](spark, sf_dir).collect()[0]
    assert t.n_classes == l.n_classes  # same QI definition
    assert 0 <= t.max_t_micro <= 1_000_000
    assert t.n_risky_classes <= t.n_classes
    assert t.n_risky_rows >= t.n_risky_classes  # every class has >=1 row


# --- sub-wave C: anomaly_mad / freshness / hash collisions / sniff ------


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


def test_freshness_decay_bounds(spark, sf_dir):
    rows = QUERIES["q_freshness_decay"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.decayed_cents <= r.raw_cents
        assert 0 <= r.retention_micro <= 1_000_000
    # 30-day span with 7-day half-life: meaningful decay happened
    assert any(r.retention_micro < 900_000 for r in rows)


def test_feature_hash_collisions_account_for_all_buckets(spark, sf_dir):
    rows = QUERIES["q_feature_hash_collisions"](spark, sf_dir).collect()
    assert sum(r.n_buckets for r in rows) == 64
    zero = [r for r in rows if r.load == 0]
    for r in zero:
        assert r.token_mass == 0
    # vocabulary words all land somewhere: sum(load * n_buckets) = |vocab|
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )
    from telecom_competitor_analysis_spark.functions.text import words
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(words(F.trim(F.col("text")))).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
        .count()
    )
    assert sum(r.load * r.n_buckets for r in rows) == vocab


def test_media_sniff_contingency(spark, sf_dir):
    rows = QUERIES["q_media_sniff"](spark, sf_dir).collect()
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_files for r in rows) == n_docs
    sniffs = {r.sniffed for r in rows}
    assert {"jpeg", "png", "riff", "gif", "unknown"} == sniffs
    for r in rows:
        if r.sniffed == "unknown":
            assert not r.is_mismatch
        if r.media_type == "image" and r.sniffed in ("jpeg", "png", "gif"):
            assert not r.is_mismatch
        if r.media_type == "video" and r.sniffed != "unknown":
            assert r.is_mismatch  # nothing sniffs as video container


# --- sub-wave D: clustering_coeff / power_iteration ----------------------


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


def test_power_iteration_properties(spark, sf_dir):
    rows = QUERIES["q_power_iteration"](spark, sf_dir).collect()
    assert len(rows) == 64
    assert {r.dim for r in rows} == set(range(64))
    u1 = [r.u1_milli for r in rows]
    u2 = [r.u2_milli for r in rows]
    # inf-norm normalization: max |u| is exactly 1000 after each step
    assert max(abs(x) for x in u1) == 1000
    assert max(abs(x) for x in u2) == 1000
    lam = {r.lambda_scaled for r in rows}
    assert len(lam) == 1 and lam.pop() >= 0
    # iterates converge toward a direction: cosine(u1, u2) should be
    # decidedly positive once the dominant eigenvalue separates
    num = sum(a * b for a, b in zip(u1, u2))
    den = (sum(a * a for a in u1) * sum(b * b for b in u2)) ** 0.5
    assert num / den > 0.5


# --- sub-wave E: entropy rate / burstiness / bpe compression curve ------


def test_char_entropy_rate_bounds(spark, sf_dir):
    rows = QUERIES["q_char_entropy_rate"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # conditioning can't raise entropy: 0 <= H(X2|X1) <= H(X)
        # (estimator noise aside, bigram H <= 2*unigram H always)
        assert 0 < r.entropy_rate <= r.h_uni + 1e-6
        assert r.h_bi <= 2 * r.h_uni + 1e-6
        assert r.n_bigrams < r.n_chars


def test_burstiness_poisson_floor(spark, sf_dir):
    rows = QUERIES["q_burstiness"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        # VMR >= the within-doc clumping floor; must be positive and
        # occ_per_doc >= 1.0 by construction
        assert r.vmr_micro > 0
        assert r.occ_per_doc_micro >= 1_000_000
        assert r.df <= r.n_occ


def test_bpe_compression_curve_monotone(spark, sf_dir):
    rows = sorted(
        QUERIES["q_bpe_compression_curve"](spark, sf_dir).collect(),
        key=lambda r: r.n_merges,
    )
    assert [r.n_merges for r in rows] == [0, 2, 4, 8]
    toks = [r.total_tokens for r in rows]
    # each extra merge can only shrink the corpus token count
    assert toks == sorted(toks, reverse=True)
    assert toks[-1] < toks[0]
    assert rows[0].compression_micro == 1_000_000  # 0 merges = chars


def test_delete_vectors_mask_accounting(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    rows = QUERIES["q_delete_vectors"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r.n_rows for r in rows) == orders.count()
    assert sum(r.n_masked for r in rows) == orders.filter(
        "o_orderkey % 13 = 0"
    ).count()
    for r in rows:
        assert 0 <= r.n_masked <= r.n_rows
        expected = r.mask_micro > 200_000
        assert r.needs_compaction == expected


def test_pruning_zorder_beats_linear_on_trailing_dim(spark, sf_dir):
    rows = {(r.layout, r.predicate): r for r in
            QUERIES["q_pruning_stats"](spark, sf_dir).collect()}
    assert len(rows) == 6
    # linear layout has no price locality: the price-band predicate
    # skips (almost) nothing; z-order skips real files on BOTH dims
    lin_p2 = rows[("linear", "P2_price_band")]
    z_p2 = rows[("zorder", "P2_price_band")]
    assert z_p2.skip_micro > lin_p2.skip_micro
    assert lin_p2.skip_micro < 200_000  # near-zero skip without locality
    # the conjunction prunes at least as well as either band alone
    for lay in ("linear", "zorder"):
        both = rows[(lay, "P3_both")]
        assert both.files_kept <= min(
            rows[(lay, "P1_cust_band")].files_kept,
            rows[(lay, "P2_price_band")].files_kept,
        )


def test_bloom_fpp_audit_consistency(spark, sf_dir):
    r = QUERIES["q_bloom_fpp_audit"](spark, sf_dir).collect()[0]
    # no false negatives: every member passes
    assert r.n_pass >= r.n_members
    assert r.n_false_pos == r.n_pass - r.n_members
    assert r.bits_set <= 2 * r.n_build
    assert 0 <= r.fpp_measured_micro <= 1_000_000
    # sparse fill at test SFs: prediction stays tiny
    assert r.fpp_predicted_micro < 100_000
