"""Round-5 operator tests: BM25 retrieval, bigram-LM scoring, edit-
distance join (deletion-neighborhood blocking), canonical-per-cluster
selection, weighted sampling, dynamic pivot."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


def test_bm25_ranks_term_dense_docs_first(spark):
    from telecom_competitor_analysis_spark.operators.search import bm25_topk

    rows = [
        (1, "join join join filter other words here"),
        (2, "join other words here pad pad pad"),
        (3, "nothing relevant at all pad pad pad"),
        (4, "filter window join filter window join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(
        docs, "doc_id", "text", terms=["join", "filter", "window"], k=10
    ).collect()
    ids = [r.id for r in got]
    assert 3 not in ids  # no probe terms -> no postings -> absent
    assert ids[0] == 4  # hits all three terms, highest idf mass
    scores = {r.id: r.score_micro for r in got}
    assert scores[1] > scores[2]  # higher tf at equal df


def test_bm25_requires_terms():
    from telecom_competitor_analysis_spark.operators.search import bm25_topk

    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(None, "id", "t", terms=[])


def test_bigram_lm_prefers_formulaic_text(spark):
    from telecom_competitor_analysis_spark.operators.lm import (
        bigram_lm_scores,
    )

    common = "the cat sat on the mat"
    rows = (
        [(i, common) for i in range(10)]
        + [(100, "zebra quark flux omega nebula prism")]
        + [(200, "x")]  # single token: no bigrams
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in bigram_lm_scores(docs, "doc_id", "text").collect()}
    assert 200 not in got  # nothing to score
    assert got[0].n_bigrams == 5
    # bigrams repeated 10x across the corpus are far more probable than
    # the one-off sequence
    assert got[0].avg_logp > got[100].avg_logp
    # sanity: log-probs are negative
    assert got[100].avg_logp < 0


def test_edit_distance_join_blocking_is_complete(spark):
    """Deletion-neighborhood candidates must find EVERY pair at
    levenshtein <= 1 (equal, substitution, insertion, deletion) and the
    verify stage must reject distance-2 pairs the blocking may emit."""
    from telecom_competitor_analysis_spark.operators.fuzzy import (
        edit_distance_join,
    )

    left = spark.createDataFrame(
        [(1, "widget"), (2, "wídget"), (3, "wdget"), (4, "widgets"),
         (5, "totally different")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "widget"), (11, "gadget")], "rid long, rname string"
    )
    got = {
        (r.lid, r.rid): r.distance
        for r in edit_distance_join(
            left, right, "lid", "lname", "rid", "rname"
        ).collect()
    }
    assert got == {
        (1, 10): 0,  # equal
        (2, 10): 1,  # substitution
        (3, 10): 1,  # deletion
        (4, 10): 1,  # insertion
    }


def test_edit_distance_join_rejects_wider_distance():
    from telecom_competitor_analysis_spark.operators.fuzzy import (
        edit_distance_join,
    )

    with pytest.raises(ValueError, match="max_distance=1"):
        edit_distance_join(None, None, "a", "b", "c", "d", max_distance=2)


def test_canonical_per_cluster_keeps_best_quality(spark):
    from telecom_competitor_analysis_spark.operators.curate import (
        canonical_per_cluster,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (8, 5), (9, 1)],
        "id long, q long",
    )
    got = {
        r.cluster_id: (r.keeper_id, r.keeper_quality, r.n_members)
        for r in canonical_per_cluster(clusters, quality, "id", "q").collect()
    }
    assert got[1] == (2, 50, 3)  # quality tie 2 vs 3 -> lowest id
    assert got[7] == (7, 5, 2)
    assert got[9] == (9, 1, 1)  # singleton keeps itself


def test_weighted_sample_matches_reference_formula(spark):
    """The Spark plan must reproduce the exact A-ES ranking computed
    independently in Python (same Knuth hash, same pow key)."""
    from telecom_competitor_analysis_spark.operators.curate import (
        weighted_sample_topk,
    )

    rows = [(i, "s" + str(i % 2), 1 + (i * 7) % 13) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, strat string, wt long")
    got = {
        (r.doc_id, r.strat): r.rank
        for r in weighted_sample_topk(df, "doc_id", "strat", "wt", k=5)
        .collect()
    }

    def key(i: int, w: int) -> float:
        h = (i * 2654435761) % 4294967296
        u = (h + 0.5) / 4294967296.0
        return math.pow(u, 1.0 / w)

    expect = {}
    for strat in ("s0", "s1"):
        members = [(i, w) for (i, s, w) in rows if s == strat]
        ordered = sorted(members, key=lambda t: (-key(t[0], t[1]), t[0]))
        for rank, (i, _) in enumerate(ordered[:5], start=1):
            expect[(i, strat)] = rank
    assert got == expect


def test_pivot_dynamic_matches_static(spark, sf_dir):
    from telecom_competitor_analysis_spark.plans import QUERIES
    from telecom_competitor_analysis_spark.sources.readers import load_table

    dyn = QUERIES["q_pivot_dynamic"](spark, sf_dir)
    assert set(dyn.columns) == {"o_orderpriority", "F", "O", "P"}
    orders = load_table(spark, sf_dir, "orders")
    static = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    a = sorted(map(tuple, dyn.collect()))
    b = sorted(map(tuple, static.collect()))
    assert a == b


def test_cdc_apply_semantics(spark, sf_dir):
    from telecom_competitor_analysis_spark.plans import QUERIES
    from telecom_competitor_analysis_spark.sources.readers import load_table

    got = {r.key: (r.price_cents, r.last_seq)
           for r in QUERIES["q_cdc_apply"](spark, sf_dir).collect()}
    part = {
        r.p_partkey: int(round(r.p_retailprice * 100))
        for r in load_table(spark, sf_dir, "part").collect()
    }
    for k, cents in list(part.items())[:200]:
        if k % 17 == 0:
            assert k not in got  # tombstone wins (seq 2 > 1 > 0)
        elif k % 10 == 0:
            assert got[k] == (cents + 100, 1)  # update applied
        else:
            assert got[k] == (cents, 0)  # untouched snapshot row
        if k % 25 == 0:
            assert got[k + 1_000_000] == (cents, 1)  # insert landed


def test_retention_cohort_week0_is_everyone(spark, sf_dir):
    """Every user is active in their own first week, so for each cohort
    the week-0 cell must equal the cohort's total user count."""
    from telecom_competitor_analysis_spark.plans import QUERIES
    from telecom_competitor_analysis_spark.sources.readers import load_table

    rows = QUERIES["q_retention_cohorts"](spark, sf_dir).collect()
    week0 = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F2

    cohort_sizes = {
        r.cohort_week: r.n
        for r in ev.groupBy("user_id")
        .agg(F2.date_format(
            F2.date_trunc("week", F2.min("ts")), "yyyy-MM-dd"
        ).alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    assert week0 == cohort_sizes
    assert all(r.week_offset >= 0 for r in rows)


def test_cogroup_asof_matches_jvm_asof(spark, sf_dir):
    """The cogrouped merge_asof plan and the union+window JVM plan are
    two formulations of the same operator — identical output required."""
    from telecom_competitor_analysis_spark.plans import QUERIES

    a = sorted(map(tuple, QUERIES["q_cogroup_asof"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["q_asof_join"](spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_pivot_dynamic_caps_value_cardinality(spark, sf_dir):
    """The dynamic pivot's phase-1 discovery is bounded: a pivot column
    whose distinct count exceeds max_values raises BEFORE the wide plan
    is compiled (limit(max_values+1) — the scan never drains the full
    distinct set either)."""
    import pytest as _pytest

    from telecom_competitor_analysis_spark.plans.relational import (
        q_pivot_dynamic,
    )

    with _pytest.raises(ValueError, match="more than 2 distinct"):
        q_pivot_dynamic(spark, sf_dir, max_values=2)
    # at the default cap the 3-status pivot still compiles and runs
    assert q_pivot_dynamic(spark, sf_dir).count() > 0


def test_dup_span_stats_merges_overlapping_spans(spark):
    """Planted boilerplate: two docs share a 5-word phrase → the three
    overlapping duplicated 3-grams merge into ONE island of 5 tokens;
    unique docs report zeros."""
    from telecom_competitor_analysis_spark.plans import dedup as qe

    docs = spark.createDataFrame(
        [
            (1, "aa bb SHARED1 SHARED2 SHARED3 SHARED4 SHARED5 cc dd"),
            (2, "xx SHARED1 SHARED2 SHARED3 SHARED4 SHARED5 yy zz ww"),
            (3, "totally unique words with no duplicated grams at all"),
        ],
        "doc_id long, text string",
    )
    import unittest.mock as mock

    with mock.patch.object(qe, "load_table", lambda s, d, t: docs):
        got = {
            r.doc_id: (r.n_dup_spans, r.dup_tokens, r.total_tokens)
            for r in qe.q_dup_span_stats(spark, "unused").collect()
        }
    # 5 shared words = 3 shared 3-grams at pos 2,3,4 (doc 1) covering
    # [2,6] — one merged span of 5 tokens
    assert got[1] == (1, 5, 9)
    assert got[2] == (1, 5, 9)
    assert got[3] == (0, 0, 9)


def test_recursive_hierarchy_depths_and_union_guard(spark, sf_dir):
    """q_recursive_hierarchy: every part key reaches a sub-10 root in
    floor(log10(key)) hops. Also pins WHY cyclic min-label propagation
    stays a driver-loop operator: Spark's recursive CTE rejects
    UNION-dedup recursion (UNION ALL on a cyclic graph would not
    terminate), so dedup_clusters' pointer doubling is the right form."""
    import math

    import pytest as _pytest

    from telecom_competitor_analysis_spark.plans import QUERIES

    rows = QUERIES["q_recursive_hierarchy"](spark, sf_dir).collect()
    got = {r.key: (r.root, r.depth) for r in rows}
    for key, (root, depth) in list(got.items())[:200]:
        assert root < 10
        assert depth == (0 if key < 10 else int(math.log10(key)))
        k = key
        while k >= 10:
            k //= 10
        assert k == root
    # engine guard: UNION (dedup) recursion is rejected, not silently run
    with _pytest.raises(Exception, match="UNION_NOT_SUPPORTED_IN_RECURSIVE"):
        spark.sql(
            "WITH RECURSIVE r(n) AS ("
            " SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3"
            ") SELECT * FROM r"
        ).collect()
