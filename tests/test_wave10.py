"""Round-10 wave: SemDedup's scaled-blocker regime as a declared,
oracle-checked query (q_semdedup_scaled) — the production form that ran
at 1.5× the wall on 100× the vectors (bucket count ∝ corpus, constant
expected bucket size; q_semdedup_scaled's docstring has the numbers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.plans.similarity import (
    SEMDEDUP_PLANES_EXPR,
    SEMDEDUP_TARGET_BUCKET,
)
from telecom_competitor_analysis_spark.sources.readers import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _planes(n: int) -> int:
    q = (n - 1) // SEMDEDUP_TARGET_BUCKET
    return 1 if q < 1 else q.bit_length()


def test_plane_rule_matches_bitlength_and_scales(spark):
    # the shared integer rule == smallest p with 2^p >= n/128, floor 1;
    # checked against the SQL text itself so the Spark expr, the oracle
    # spelling, and this Python mirror can never drift apart
    rows = spark.sql(
        "SELECT n, "
        + SEMDEDUP_PLANES_EXPR.format(n="n")
        + " AS p FROM VALUES (1), (100), (129), (500), (2000), (128000)"
        " AS t(n)"
    ).collect()
    for r in rows:
        assert r.p == _planes(r.n), r.n
    got = {r.n: r.p for r in rows}
    # bucket count demonstrably grows with the corpus
    assert got[500] == 2 and got[2000] == 4 and got[128000] == 10


def test_semdedup_scaled_buckets_and_keep_lowest(spark, sf_dir):
    res = QUERIES["q_semdedup_scaled"](spark, sf_dir)
    rows = res.collect()
    n = len(rows)
    assert n == load_table(spark, sf_dir, "embeddings").count()
    p = _planes(n)
    # every bucket is exactly the p-bit prefix pattern
    assert all(
        len(r.cluster_id) == p and set(r.cluster_id) <= {"0", "1"}
        for r in rows
    )
    # keep-lowest: the lowest id of every non-empty bucket survives
    lowest = {}
    for r in rows:
        if r.cluster_id not in lowest or r.vec_id < lowest[r.cluster_id]:
            lowest[r.cluster_id] = r.vec_id
    kept = {r.vec_id for r in rows if r.kept}
    assert set(lowest.values()) <= kept


def test_semdedup_scaled_pair_join_is_bucket_keyed(spark, sf_dir):
    # the pair stage must be an equi-join on the bucket — never a
    # cartesian / nested-loop corpus² stage (pair volume ~ 128·n)
    plan = _plan(QUERIES["q_semdedup_scaled"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan


def test_semdedup_scaled_assign_is_materialized_artifact(spark, sf_dir):
    # the blocker assignment reads from the fingerprint-cached parquet
    # artifact (block once, prune repeatedly): the executed plan scans
    # the cache dir, and the in-query count aggregate of the BUILD is
    # absent (no Exchange SinglePartition from the 1-row count in the
    # consumer plan's scan of the artifact)
    plan = _plan(QUERIES["q_semdedup_scaled"](spark, sf_dir))
    assert "semdedup_blocker_p16t128" in plan


def test_edit_distance_pairs_bounds_and_plan(spark, sf_dir):
    df = QUERIES["q_edit_distance_pairs"](spark, sf_dir)
    plan = _plan(df)
    # verify runs on the bounded LSH candidate set — no pair stage of
    # its own, no nested loop; the distance is the built-in JVM
    # levenshtein, never a Python stage
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "Python" not in plan
    for r in df.collect():
        assert r.id_a < r.id_b
        assert 500000 <= r.sim_micro <= 1000000
        assert r.dist >= 0


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


def test_band_tuning_grid_monotone_in_rows_per_band(spark, sf_dir):
    # for fixed H = b*r and fixed s, fewer rows per band (more bands)
    # is strictly more permissive — the grid must reflect the S-curve
    from telecom_competitor_analysis_spark.plans.dedup import band_tuning_grid

    grid = {}
    for b, r, jbin, p in band_tuning_grid():
        grid.setdefault(jbin, []).append((r, p))
    for jbin, entries in grid.items():
        entries.sort()
        for (r1, p1), (r2, p2) in zip(entries, entries[1:]):
            assert p1 >= p2, (jbin, r1, r2)
    # and the declared query orders expected recall the same way
    rows = {
        (r.bands, r.rows_per_band): r.expected_recall_micro
        for r in QUERIES["q_band_tuning"](spark, sf_dir).collect()
    }
    assert rows[(16, 1)] >= rows[(8, 2)] >= rows[(4, 4)] >= rows[(2, 8)]


def test_length_buckets_capacity_bounds(spark, sf_dir):
    rows = QUERIES["q_length_buckets"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.capacity == r.n_docs * r.pad_to
        assert r.sum_tokens <= r.capacity  # every doc fits its bucket
        assert 0 <= r.waste_micro < 1_000_000


def test_frame_dedup_no_pair_stage(spark, sf_dir):
    df = QUERIES["q_frame_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "md5" in plan
    for r in df.collect():
        assert r.n_frames >= 2
        assert 1 <= r.n_media <= r.n_frames


def test_candidate_precision_bounds(spark, sf_dir):
    rows = QUERIES["q_candidate_precision"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.agree_quarters <= 4
        assert r.n_true_pairs <= r.n_candidates
        assert 0 <= r.precision_micro <= 1_000_000


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


def test_assortativity_in_range(spark, sf_dir):
    r = QUERIES["q_assortativity"](spark, sf_dir).collect()[0]
    assert -1_000_000 <= r.assortativity_micro <= 1_000_000
    assert r.n_directed_edges % 2 == 0  # both orientations present


def test_nprobe_sweep_recall_monotone_per_query(spark, sf_dir):
    rows = QUERIES["q_nprobe_sweep"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.recall_micro
    assert len(rows) == 3 * len(by_q)
    for q, rec in by_q.items():
        # probing more buckets can only add candidates: recall is
        # non-decreasing in nprobe
        assert rec[1] <= rec[2] <= rec[4], (q, rec)


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


def test_event_transitions_rows_normalize(spark, sf_dir):
    rows = QUERIES["q_event_transitions"](spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert 0 <= r.p_micro <= 1_000_000
        by_src.setdefault(r.src_event, []).append(r.p_micro)
    for src, ps in by_src.items():
        # truncating division: row sums land within |row| of 1e6
        assert 1_000_000 - len(ps) <= sum(ps) <= 1_000_000, src


def test_knn_hubness_accounts_every_vector(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table as lt,
    )

    rows = QUERIES["q_knn_hubness"](spark, sf_dir).collect()
    n = lt(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n
    assert all(r.k_occurrence >= 0 for r in rows)


def test_knn_hubness_no_broadcast_of_corpus_queries(spark, sf_dir):
    # every vector is a query: the pair stage must be an EQUI-join on
    # the bucket (hash- or sort-merge-based; AQE may broadcast at tiny
    # SF from runtime size — that self-corrects at scale), never a
    # nested loop over corpus-sized sides. The only nested-loop joins
    # allowed are the Cross combines of the 1-row corpus-count that
    # sizes the scaled blocker (the renormalizer pattern).
    plan = _plan(QUERIES["q_knn_hubness"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin", plan):
        detail = plan[m.end():m.end() + 200]
        assert "Join type: Cross" in detail, detail[:120]
    # and the bucket pair join is present as an equi-join
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_cluster_purity_bounds(spark, sf_dir):
    rows = QUERIES["q_cluster_purity"](spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 1 <= r.top_count <= r.n_vectors
        assert 0 < r.purity_micro <= 1_000_000
        assert 0 <= r.top_label <= 9


def test_heaps_fit_checkpoints_and_beta_range(spark, sf_dir):
    r = QUERIES["q_heaps_fit"](spark, sf_dir).collect()[0]
    # checkpoints are bin-length buckets: bounded by log2(max doc id)
    assert 2 <= r.n_points <= 64
    # beta in [0, 1]: 0 = saturated vocab (this synthetic corpus is
    # template-y by construction), 1 = every token new
    assert 0 <= r.beta_micro <= 1_000_000


def test_js_divergence_bounds_and_symmetry_shape(spark, sf_dir):
    r = QUERIES["q_js_divergence"](spark, sf_dir).collect()[0]
    # 0 <= JS <= ln 2 (693147 micro); halves of one corpus sit near 0
    assert 0 <= r.js_micro <= 693148
    assert r.js_micro == (r.kl_p_micro + r.kl_q_micro) // 2
    assert r.n_vocab >= 1


def test_gini_bounds(spark, sf_dir):
    r = QUERIES["q_gini_concentration"](spark, sf_dir).collect()[0]
    # discrete Gini with the truncating-division form can dip a hair
    # under 0 on perfectly balanced data; bound with the 1/n slack
    assert -1_000_000 // r.n_sources <= r.gini_micro < 1_000_000
    assert r.total_tokens > 0
