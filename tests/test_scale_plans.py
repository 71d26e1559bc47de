"""Physical-plan assertions for the 100 TB design claims: these tests
check the *plan*, not just the answer — pushdown reaches the scan, dims
broadcast, bucketed joins skip the shuffle, partitioned writes prune,
salting spreads a hot key."""

from __future__ import annotations

import ast
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.skew import salted_join
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.sources.readers import load_table
from telecom_competitor_analysis_spark.sources.writers import (
    write_bucketed,
    write_gold,
)
from tests.oracle_utils import job_ids


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def split_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """The documents table rewritten as 4 files: a well-split scan, the
    shape every large input has. Map-only plans are asserted here, where
    the under-split guard (operators/dedup.ensure_parallelism) adds no
    Exchange; on the one-file testdata it adds a round-robin one by
    design."""
    d = str(tmp_path_factory.mktemp("split_sf"))
    load_table(spark, sf_dir, "documents").repartition(4).write.parquet(
        f"{d}/documents.parquet"
    )
    return d


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["q_filter_contains"](spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "p_retailprice" not in plan.split("ReadSchema")[-1]


def test_lookup_join_broadcasts(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(QUERIES["q_lookup_join"](spark, sf_dir))


def test_latest_per_key_uses_partial_topk(spark, sf_dir):
    # WindowGroupLimit = map-side top-1-per-key before the shuffle
    assert "WindowGroupLimit" in _plan(QUERIES["q_agg_latest_price"](spark, sf_dir))


def test_topk_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(QUERIES["q_topk"](spark, sf_dir))


def test_no_forced_broadcast_on_scaling_tables(spark, sf_dir):
    # part and customer grow with the dataset: a broadcast() hint on them
    # pins an OOM-prone plan at 100×. The logical plan must carry no
    # broadcast hint — AQE is free to (and locally does) pick broadcast at
    # runtime from actual sizes, which is the scale-safe version of the
    # same optimization.
    for name in ("q_agg_latest_price", "q_revenue_topk"):
        logical = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "ResolvedHint" not in logical, f"{name} forces a broadcast hint"


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        write_bucketed(li.withColumnRenamed("l_orderkey", "okey"),
                       "li_b", ("okey",), 8)
        write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"),
                       "ord_b", ("okey",), 8)
        joined = spark.table("li_b").join(spark.table("ord_b"), "okey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join must not reshuffle"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_partitioned_write_prunes(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="gold_")
    try:
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        write_gold(orders, f"{tmp}/orders", partition_by=("order_month",),
                   mode="overwrite")
        back = spark.read.parquet(f"{tmp}/orders").filter(
            F.col("order_month") == "1995-01"
        )
        plan = back._jdf.queryExecution().toString()
        assert "PartitionFilters" in plan and "order_month" in plan
        got = back.count()
        want = orders.filter(F.col("order_month") == "1995-01").count()
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_exact_n_sample_uses_partial_topk(spark, sf_dir):
    # constant rank bound → WindowGroupLimit keeps per-partition top-n
    # BEFORE the exchange; no stratum is ever fully sorted
    assert "WindowGroupLimit" in _plan(QUERIES["q_sample_exact_n"](spark, sf_dir))


def test_word_freq_topk_avoids_global_sort(spark, sf_dir):
    # the global rank<=50 filter must become a distributed top-k
    # (TakeOrderedAndProject), never a single-partition sort of the vocab
    assert "TakeOrderedAndProject" in _plan(QUERIES["q_word_freq"](spark, sf_dir))
    assert "TakeOrderedAndProject" in _plan(
        QUERIES["q_common_ngrams"](spark, sf_dir)
    )


def test_simhash_pair_verify_is_integer_hamming(spark, sf_dir):
    # the O(candidates) verify stage must run on packed int chunks
    # (XOR+bit_count), not 2×sig_bits substring compares
    plan = _plan(QUERIES["q_simhash64_pairs"](spark, sf_dir))
    assert "bit_count" in plan
    assert "substring(sig_a" not in plan


def test_key_skew_topk_avoids_global_sort(spark, sf_dir):
    # heavy-hitter diagnostic must itself be scale-safe: distributed
    # top-k, never a global-window sort of every distinct key
    assert "TakeOrderedAndProject" in _plan(QUERIES["q_key_skew"](spark, sf_dir))


def test_pii_scrub_is_map_only(spark, split_sf_dir):
    # pure narrow stage: zero exchanges on a well-split scan (the
    # guard's round-robin on the one-file testdata is pinned by
    # test_compute_bound_map_queries_keep_the_parallelism_guard below)
    assert "Exchange" not in _plan(QUERIES["q_pii_scrub"](spark, split_sf_dir))


def test_salted_join_rejects_replication_unsafe_how(spark, sf_dir):
    import pytest

    li = load_table(spark, sf_dir, "lineitem").limit(10)
    part = load_table(spark, sf_dir, "part").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(li, part, ["l_partkey"], salt=4, how=how)


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    part = load_table(spark, sf_dir, "part").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    plain = li.join(part, "l_partkey").count()
    salted = salted_join(li, part, ["l_partkey"], salt=4).count()
    assert plain == salted


def test_winsorize_avoids_whole_partition_window(spark, sf_dir):
    """q_winsorize must compute the per-group percentiles as a groupBy agg
    + broadcast join-back, never as a window over the 3-value group key
    (which buffers ~1/3 of the table per window partition at any scale)."""
    plan = _plan(QUERIES["q_winsorize"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "percentile" in plan


def test_mix_rebalance_two_pass_uses_partial_topk(spark, sf_dir):
    """The two-pass rebalance re-plans with a literal quota, restoring
    map-side WindowGroupLimit pruning (the r4 verdict's watch item: the
    one-pass dynamic bound rank-numbers every stratum in full)."""
    assert "WindowGroupLimit" in _plan(QUERIES["q_mix_rebalance"](spark, sf_dir))


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(QUERIES["q_bm25_search"](spark, sf_dir))


def test_fuzzy_join_is_equi_join(spark, sf_dir):
    """Deletion-neighborhood blocking must produce a plain equi-join on
    the variant key — never a nested-loop/cartesian theta-join (the
    naive levenshtein-predicate join would be O(n*m) comparisons)."""
    plan = _plan(QUERIES["q_fuzzy_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_uses_partial_topk(spark, sf_dir):
    assert "WindowGroupLimit" in _plan(QUERIES["q_weighted_sample"](spark, sf_dir))


def test_cdc_apply_uses_partial_topk(spark, sf_dir):
    """Latest-seq-wins must prune map-side (rank-1 WindowGroupLimit),
    never sort whole partitions of the merged feed."""
    assert "WindowGroupLimit" in _plan(QUERIES["q_cdc_apply"](spark, sf_dir))


def test_kmv_sketch_uses_partial_topk(spark, sf_dir):
    """The k-smallest-hash selection must prune map-side
    (WindowGroupLimit) — only k hashes per group reach the final agg."""
    assert "WindowGroupLimit" in _plan(QUERIES["q_kmv_distinct"](spark, sf_dir))


def test_dedup_incremental_probe_is_equi_join(spark, sf_dir):
    """The batch-vs-index probe must be a plain equi-join on the shingle
    (never a cartesian / nested-loop), and the materialized postings
    arrive from a parquet scan — the keep-list's documents are not in
    the plan at all."""
    plan = _plan(QUERIES["q_dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # four parquet scans: the BATCH slice of documents twice (the sizes
    # leg and the join leg — both ∝ |batch|) plus the index's postings
    # and sizes. The keep-list's documents are never re-read: every
    # tokenization in the plan carries the batch's pushed `% 3 = 0`
    # filter, so corpus-side cost is the pre-built index alone.
    assert plan.count("FileScan parquet") == 4
    # every tokenizing scan is the batch slice (pushed filter); the
    # keep-list filter (% 3 != 0) appears nowhere in the plan
    assert plan.count("% 3) = 0") >= 2
    assert plan.count("posexplode") == 2  # both legs tokenize the batch


def test_token_budget_fill_single_exchange(spark, sf_dir):
    """Budget fill = ONE shuffle (the lang stratum) feeding the rank-cap
    pre-filter and the running-sum window back-to-back (same window
    spec) — no second exchange, no global sort; the LITERAL rank bound
    restores map-side WindowGroupLimit pruning so a huge stratum ships
    at most `cap` rows into the cumsum (r6 VERDICT item 4)."""
    plan = _plan(QUERIES["q_token_budget_fill"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan
    assert "WindowGroupLimit" in plan


def test_gopher_rules_exchange_inventory(spark, sf_dir):
    """gopher_rules = repetition_signals' two agg pipelines plus a
    map-only projection: exactly 3 hash exchanges ((id,word) counts,
    bigram window, final id join side), hash aggregation throughout,
    no cartesian."""
    plan = _plan(QUERIES["q_gopher_rules"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 3
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan


def test_kmeans_assignment_is_partial_aggregate_not_window(spark, sf_dir):
    """kmeans_assign's argmax must be a map-side-combinable max_by
    aggregate (partial_max_by BEFORE the vec_id exchange) — an argmax
    window would shuffle k copies of every vector; centroid state is
    partial-aggregable integer sums; the k-row centroid table reaches
    the scoring stage as a broadcast."""
    plan = _plan(QUERIES["q_kmeans_assign"](spark, sf_dir))
    assert "partial_max_by" in plan
    assert "partial_sum" in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_semdedup_pairs_are_cluster_blocked(spark, sf_dir):
    """SemDedup's pairwise stage joins on cluster_id (hash join, Σ
    cluster² candidates) — never a cartesian over the corpus."""
    plan = _plan(QUERIES["q_semdedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the broadcast k-row centroid
    # cross joins inside kmeans (IdentityBroadcastMode), never a
    # corpus-side pair generator
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        assert m.group(2) == "Cross"


def test_domain_cap_pushes_blocklist_and_prunes_map_side(spark, sf_dir):
    """The blocklist must reach the parquet scan as a pushed filter
    (policy literal, never a join), and the literal cap bound must plan
    as WindowGroupLimit — a spam domain ships cap rows, not itself."""
    df = QUERIES["q_domain_cap"](spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    full = df._jdf.queryExecution().toString()
    pushed = full.split("PushedFilters")[-1].split("]")[0]
    assert "source" in pushed
    assert "Join" not in plan


def test_pmi_pairs_topk_and_single_window_pass(spark, sf_dir):
    """PMI: the top-100 is a distributed TakeOrderedAndProject (never a
    global sort of the pair vocabulary), and both lead offsets come off
    ONE window pass (exactly one Window operator in the plan)."""
    plan = _plan(QUERIES["q_pmi_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window ") == 1
    assert "CartesianProduct" not in plan


def test_training_shards_single_exchange_no_global_sort(spark, sf_dir):
    """Sharding = map-side hash + ONE exchange on shard + the per-shard
    sort a shard writer needs anyway; never a global (range) sort."""
    plan = _plan(QUERIES["q_training_shards"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_star_join_broadcasts_dims_no_hints(spark, sf_dir):
    """The six-table Q5 star join carries NO join hints (logical plan
    hint-free — AQE owns the strategy at every scale) and locally
    resolves the dim chains to broadcasts with no cartesian."""
    df = QUERIES["q_star_join"](spark, sf_dir)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_declared_bucketed_join_query_zero_join_exchanges(spark, sf_dir):
    """q_bucketed_join reads the MATERIALIZED bucketed layout: the
    fact-fact SortMergeJoin must have zero Exchange below it (the only
    exchange in the whole plan is the 5-row priority aggregate), and the
    scan must report the bucket count."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q_bucketed_join"](spark, sf_dir)
        plan = _plan(df)
        assert "SortMergeJoin" in plan
        join_subtree = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_subtree, (
            "bucketed fact join must not reshuffle either side"
        )
        assert plan.count("Exchange") == 1  # the final groupBy only
        assert "Bucketed: true" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_layout_reattach_roundtrip(spark, sf_dir, tmp_path):
    """write_bucketed_layout writes ONE file per bucket; a fresh
    attach_bucketed_layout over the same files restores bucket metadata
    (self-join plans exchange-free) and exact content."""
    import os

    from telecom_competitor_analysis_spark.operators.bucketing import (
        attach_bucketed_layout,
        write_bucketed_layout,
    )

    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "ob")
    write_bucketed_layout(orders, p, "o_orderkey", 4)
    files = [f for f in os.listdir(p) if f.startswith("part-")]
    assert len(files) == 4, "one file per bucket (repartition == bucket hash)"
    att = attach_bucketed_layout(
        spark, "tcas_test_reatt", orders.schema, "o_orderkey", 4, p
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = att.select("o_orderkey", "o_totalprice")
        b = att.select(F.col("o_orderkey"), F.col("o_custkey"))
        plan = _plan(a.join(b, "o_orderkey"))
        assert "Exchange" not in plan
        assert att.count() == orders.count()
        assert (
            att.agg(F.sum(F.crc32(F.col("o_orderstatus")))).first()[0]
            == orders.agg(F.sum(F.crc32(F.col("o_orderstatus")))).first()[0]
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS tcas_test_reatt")


def test_paragraph_dedup_is_aggregate_not_window(spark, sf_dir):
    """First-occurrence selection must be the partial-aggregable
    min-struct (hot boilerplate hash collapses map-side), never a
    row_number window over the paragraph hash (unsplittable hot
    partition)."""
    plan = _plan(QUERIES["q_paragraph_dedup"](spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min(struct" in plan


def test_bucketed_layout_append_stays_colocated(spark, sf_dir, tmp_path):
    """append_bucketed_layout: the appended batch lands in the correct
    buckets (joins over the union plan exchange-free and match a plain
    join of the full table), and the writer REFUSES nothing silently —
    the bucket spec is enforced through the catalog."""
    from telecom_competitor_analysis_spark.operators.bucketing import (
        append_bucketed_layout,
        attach_bucketed_layout,
        write_bucketed_layout,
    )

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0)
    new = orders.filter(F.col("o_orderkey") % 3 == 0)
    p = str(tmp_path / "ob_app")
    write_bucketed_layout(old, p, "o_orderkey", 4)
    append_bucketed_layout(new, p, "o_orderkey", 4)
    att = attach_bucketed_layout(
        spark, "tcas_test_app", orders.schema, "o_orderkey", 4, p
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = att.select("o_orderkey", "o_totalprice")
        b = att.select("o_orderkey", "o_custkey")
        joined = a.join(b, "o_orderkey")
        assert "Exchange" not in _plan(joined)
        assert att.count() == orders.count()
        # exact integer content check (doubles would be add-order FP)
        assert (
            att.agg(F.sum(F.crc32(F.concat_ws(
                "|", F.col("o_orderkey"), F.col("o_orderstatus")
            )))).first()[0]
            == orders.agg(F.sum(F.crc32(F.concat_ws(
                "|", F.col("o_orderkey"), F.col("o_orderstatus")
            )))).first()[0]
        )
        # a bucketed self-join groupBy on the key is also exchange-free
        agg_plan = _plan(att.groupBy("o_orderkey").count())
        assert "Exchange hashpartitioning" not in agg_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS tcas_test_app")


def test_oov_vocab_rank_is_partial_topk(spark, sf_dir):
    """The top-512 vocab selection must plan as TakeOrderedAndProject
    (distributed partial top-k over the aggregated word counts), never
    a single-partition global window."""
    plan = _plan(QUERIES["q_oov_rate"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_curriculum_order_windows_by_shard_and_tier(spark, sf_dir):
    """The position window must partition by (shard, tier) — 32 balanced
    partitions — never by tier alone (4 corpus-quarter hot partitions);
    and the quartile cutoffs must be an aggregate + broadcast, never a
    global ntile."""
    plan = _plan(QUERIES["q_curriculum_order"](spark, sf_dir))
    import re

    assert "windowspecdefinition(shard" in plan
    # standalone ntile( only — 'percentile(' contains the substring
    assert not re.search(r"(?<![a-z])ntile\(", plan)


def test_quality_classifier_is_map_only(spark, split_sf_dir):
    """Model inference via the hashing trick must plan as a pure
    map-only projection: the per-doc score folds over the words array
    inside one codegen'd expression — NO exchange, NO explode-generate,
    NO Python stage. At 100 TB this is the difference between scan
    speed and a corpus-scale shuffle. Asserted on a well-split scan, so
    adding the under-split guard to this compute-heavy scan later can't
    contradict this test."""
    plan = _plan(QUERIES["q_quality_classifier"](spark, split_sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan


def test_phrase_search_partial_topk_and_broadcast_probe(spark, sf_dir):
    """The global top-1 phrase is sort+limit → TakeOrderedAndProject
    (distributed partial top-k, never a single-partition window), and
    the 1-row phrase comes back onto the gram stream as a BROADCAST
    semi-filter — the gram stream itself never reshuffles for the
    probe."""
    plan = _plan(QUERIES["q_phrase_search"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_label_vote_preaggregates_before_window(spark, sf_dir):
    """The vote stream collapses map-side (partial groupBy on
    (user, label)) BEFORE any window: the winner-pick window reads
    |users|×|labels| aggregated rows, never |events| raw votes; both
    window functions (rank + per-user total) share one user_id
    exchange."""
    plan = _plan(QUERIES["q_label_vote"](spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "rangepartitioning" not in plan


def test_dup_span_remove_shuffles_only_on_doc_keys(spark, sf_dir):
    """Span removal: every exchange is keyed by doc_id / a
    doc_id-prefixed composite / the gram df key — no range partitioning
    (global sort) anywhere, no cartesian; reassembly's collect_list is
    a hash aggregate bounded by doc length."""
    plan = _plan(QUERIES["q_dup_span_remove"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_rrf_fusion_legs_end_in_partial_topk(spark, sf_dir):
    """Both retrieval legs finish their own DISTRIBUTED top-k before
    fusion (BM25's TakeOrderedAndProject, cosine's WindowGroupLimit),
    so the three unpartitioned rank windows operate on ≤ k_lex + k_sem
    rows by construction — never a corpus-scale single-partition sort;
    no cartesian anywhere (the cosine cross join is the broadcast
    query-side, nested-loop Cross over a 1-row build)."""
    plan = _plan(QUERIES["q_rrf_fusion"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_rollup_incremental_never_rescans_history(spark, sf_dir):
    """MV-delta refresh: the plan must scan the ORDERS source exactly
    once (the batch side, with the cutoff pushed to the scan) — the
    frozen history enters only through the materialized rollup's
    parquet; the merge is partial-aggregated before its single
    exchange."""
    df = QUERIES["q_rollup_incremental"](spark, sf_dir)
    full = df._jdf.queryExecution().toString()
    # exactly one scan of the orders source file (the batch leg)
    assert full.count("orders.parquet") == 1
    # the cutoff reaches the batch leg's scan as a pushed filter
    assert "GreaterThanOrEqual(o_orderdate" in full
    plan = _plan(df)
    assert "partial_sum" in plan


def test_setsim_prefix_join_no_cartesian_no_global_window(spark, sf_dir):
    """PPJoin: the prefix window partitions by doc id (never a global
    single-partition window), candidates come from an EQUI-join on the
    prefix token, and the only nested-loop is the broadcast of the
    1-row corpus count — no CartesianProduct, no range partitioning."""
    plan = _plan(QUERIES["q_setsim_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    # the prefix/size window is keyed on the set id
    assert "Window" in plan
    assert "hashpartitioning(id" in plan


def test_corpus_overlap_sketches_are_partial_topk(spark, sf_dir):
    """KMV sketch construction must be distributed partial top-k
    (TakeOrderedAndProject) — each side's 64 smallest hashes are found
    without a global sort, and the sketch-combine stages operate on
    ≤128 rows by construction."""
    plan = _plan(QUERIES["q_corpus_overlap"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_zorder_layout_single_agg_exchange(spark, sf_dir):
    """Z-order stats: the Morton code is a map-side projection over the
    broadcast 1-row bounds; the per-zfile stats partial-aggregate
    before their single hash exchange (64 groups) — no global sort."""
    plan = _plan(QUERIES["q_zorder_layout"](spark, sf_dir))
    assert "partial_count" in plan or "partial_min" in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pq_ann_scores_codes_not_vectors(spark, sf_dir):
    """PQ/ADC: the corpus-scale scoring stage reads the (id, j, code)
    rows joined to the BROADCAST ADC tables — the codebook and every
    per-query lookup table arrive as BroadcastHashJoins; the per-query
    top-k is WindowGroupLimit partial top-k; no cartesian, no global
    range sort anywhere."""
    plan = _plan(QUERIES["q_pq_ann"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_knn_label_audit_partial_topk_broadcast_probe(spark, sf_dir):
    """kNN consensus: the 20-row audit batch broadcasts onto a single
    map-side scoring scan; per-query neighbor selection is
    WindowGroupLimit partial top-k; the corpus itself is never
    reshuffled (no range sort anywhere)."""
    plan = _plan(QUERIES["q_knn_label_audit"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan


def test_hard_negatives_partial_topk_no_range_sort(spark, sf_dir):
    """Hard-negative mining: cluster labels hash-join the corpus, the
    query batch broadcasts (non-equi guard -> nested loop over the
    5-row build side only), top-5 via WindowGroupLimit."""
    plan = _plan(QUERIES["q_hard_negatives"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_equi_join_no_dedup_shuffle(spark, sf_dir):
    """Binned overlap join: candidates come from a plain equi-join on
    the bin key (SortMergeJoin/ShuffledHashJoin — never a theta
    nested-loop), and the exactly-once canonical-bin rule means NO
    post-join distinct/aggregate pass appears in the plan."""
    plan = _plan(QUERIES["q_interval_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no dedup stage after the join: the only aggregates would come
    # from a distinct(); there are none in this plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_embedding_drift_partial_agg_tiny_join(spark, sf_dir):
    """Drift monitor: the corpus collapses in ONE partial-aggregated
    groupBy (label, side) — 20 rows out at any scale; the self-join
    runs on aggregated rows (broadcast), and no window/range-sort
    appears anywhere."""
    plan = _plan(QUERIES["q_embedding_drift"](spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan
    assert "rangepartitioning" not in plan
    assert "Window" not in plan


def test_bloom_prefilter_drops_rows_before_exact_join(spark, sf_dir):
    """The Bloom membership filter must sit BELOW the exact join (probe
    rows drop before any join boundary), and the filter itself must be
    a broadcast of the 1-row bit-set — no shuffle is introduced by the
    reduction stage."""
    df = QUERIES["q_bloom_prefilter_join"](spark, sf_dir)
    plan = _plan(df)
    assert "array_contains" in plan
    assert plan.index("array_contains") > plan.index("HashAggregate"), (
        "executedPlan prints top-down: the membership filter must appear "
        "BELOW (after, in print order) the final aggregate"
    )
    assert "rangepartitioning" not in plan
    # and the reduction is genuinely selective on this data: fewer rows
    # survive the bloom than the probe table holds
    from telecom_competitor_analysis_spark.sources.readers import load_table

    assert df.count() < load_table(spark, sf_dir, "lineitem").count()


def test_heavy_hitters_no_vocabulary_shuffle(spark, sf_dir):
    """The MG candidate pass is a map-only MapInPandas (no exchange of
    the token stream); the verify count joins tokens to the broadcast
    candidate set — never a sort-merge join, never a range sort. The
    only wide exchanges are candidate-bounded."""
    plan = _plan(QUERIES["q_heavy_hitters"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_profile_table_two_phase_distinct_no_per_column_scans(spark, sf_dir):
    """The profiler must plan as ONE scan: unpivot (Spark's Expand — the
    intended map-side row multiply) feeding a two-phase aggregate keyed
    (col_name, val) then (col_name). Exactly two hash exchanges, both
    bounded by column-count × column-cardinality; N separate per-column
    countDistinct jobs would scan the table N times instead."""
    df = QUERIES["q_profile_table"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(col_name" in plan
    assert "count(distinct val" in plan
    # one scan of orders, not one per profiled column
    assert plan.count("Scan parquet") == 1


def test_dup_rate_by_domain_reads_materialized_pairs(spark, sf_dir):
    """Fifth consumer of the shared materialized pair graph: the plan
    must read the pairs parquet artifact (no inline minhash/banding —
    no md5/xxhash of text anywhere) and roll up with plain aggregates,
    no window."""
    plan = _plan(QUERIES["q_dup_rate_by_domain"](spark, sf_dir))
    assert "tcas_materialized" in plan  # scans the artifact, not text
    assert "Window" not in plan
    assert "rangepartitioning" not in plan


def test_maxsim_folds_map_side_and_stays_narrow(spark, sf_dir):
    """MaxSim: the query side broadcasts (BroadcastNestedLoopJoin — the
    deliberate |q|×corpus brute-force baseline), both folds (per-chunk
    MIN, per-doc SUM) partial-aggregate map-side, and the pairwise rows
    are NARROW — no 64-element vector column survives past the distance
    projection into an aggregate."""
    plan = _plan(QUERIES["q_maxsim_retrieval"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_min" in plan
    assert "partial_sum" in plan
    assert "rangepartitioning" not in plan
    assert "WindowGroupLimit" in plan  # top-3 prunes before the exchange
    # every aggregate row is ids + one long — the vector columns never
    # enter an aggregate's keys or output (check the agg lines only:
    # the plan prints children below, so the distance projection with
    # qv/cv legitimately appears further down)
    for line in plan.splitlines():
        if "HashAggregate" in line:
            assert "qv" not in line and "cv#" not in line


def test_skyline_no_quadratic_join_no_global_data_sort(spark, sf_dir):
    """The skyline must NOT plan the naive dominance anti-join: no
    cartesian, no sort-merge join — broadcasts only (global bounds,
    bucket suffix-max). The only data-sized exchanges are the
    distinct-point aggregate and the bucket hash partition; the lone
    unpartitioned window runs over bucket METADATA (<= n_buckets
    rows)."""
    plan = _plan(QUERIES["q_skyline"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # suffix-max join-back
    # the distinct-point set is not checkpointed (it did not pay on 4
    # cores): no lineage truncation anywhere in the frontier plan
    assert "Scan ExistingRDD" not in plan


def test_kcenter_narrow_folds_distributed_argmax(spark, sf_dir):
    """Every k-center round folds min-distance over NARROW rows (no
    vector column in any aggregate) and takes its argmax as a
    distributed 1-row sort-limit (TakeOrderedAndProject) — never a
    global sort; the selected set enters each round as a broadcast."""
    plan = _plan(QUERIES["q_kcenter_select"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # selected-set broadcast
    for line in plan.splitlines():
        if "HashAggregate" in line:
            assert "mv" not in line


def test_vocab_coverage_topk_before_window(spark, sf_dir):
    """The coverage curve's global top-20 must be a distributed
    sort-limit (TakeOrderedAndProject); the only unpartitioned window
    runs over those 20 rows, never the vocabulary."""
    plan = _plan(QUERIES["q_vocab_coverage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # print order is top-down: the window must sit ABOVE the top-k
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_gram_matrix_mapside_outer_product_no_self_join(spark, sf_dir):
    """The Gram reduction must be the map-side outer-product shape:
    partial aggregation collapses each task to <= 2080 rows before the
    exchange, the per-dimension sums broadcast back, and the naive
    elem-self-join (the oracle's plan) never appears — no sort-merge
    join, three hash exchanges."""
    plan = _plan(QUERIES["q_gram_matrix"](spark, sf_dir))
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the pair groupBy, plus the 64-row per-dim sums' groupBy once per
    # broadcast join consumer (sx_i, sx_j): the sums are not checkpointed
    assert plan.count("Exchange hashpartitioning") == 3


def test_gram_incremental_never_rescans_history(spark, sf_dir):
    """The incremental Gram refresh must scan embeddings ONLY for the
    batch legs (cutoff filter pushed to the scan) and read the frozen
    partial state from the artifact — the history partition is never
    re-aggregated (the q_rollup_incremental invariant applied to
    statistics state)."""
    plan = _plan(QUERIES["q_gram_incremental"](spark, sf_dir))
    # artifact reads present (the stored history partials)
    assert "tcas_materialized" in plan
    # the HISTORY predicate NOT((vec_id % 4) = 0) must be absent — an
    # inline _gram_partials(history) prints exactly that negated filter
    assert "NOT ((vec_id" not in plan, (
        "a negated cutoff filter means the history is being "
        "re-aggregated inline instead of read from the stored partials"
    )
    # AND every embeddings scan must carry the batch predicate in its
    # pushed DataFilters — an UNfiltered full-corpus rescan (the
    # double-count shape) has neither the NOT form nor the batch
    # filter, so the absence check alone cannot catch it (r7 third
    # review). After "FileScan parquet" the rest of the scan line
    # holds its DataFilters.
    scans = [
        seg.splitlines()[0]
        for seg in plan.split("FileScan parquet")[1:]
    ]
    emb_scans = [s for s in scans if "embeddings" in s]
    assert emb_scans, "expected embeddings scans in the batch legs"
    for s in emb_scans:
        assert "% 4) = 0" in s, (
            "an embeddings scan without the batch cutoff filter means "
            "history rows are being re-read"
        )


def test_impute_median_broadcast_no_window(spark, sf_dir):
    """Median imputation must compute the group medians as broadcast
    aggregates joined back (the winsorize discipline) — never a window
    over the 5-value event_type key, and the fill is map-side."""
    plan = _plan(QUERIES["q_impute_median"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "percentile" in plan
    assert "rangepartitioning" not in plan


def test_maxsim_index_prunes_buckets_and_folds_mapside(spark, sf_dir):
    """The index-backed MaxSim must probe buckets with dynamic
    partition pruning (per-query-chunk broadcast onto the partition
    column) and keep the same map-side fold shape as the brute-force
    form (partial MIN/SUM, WindowGroupLimit top-k, no range sort)."""
    plan = _plan(QUERIES["q_maxsim_index"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower()
    assert "partial_min" in plan
    assert "partial_sum" in plan
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan


def test_multiprobe_lsh_fans_out_query_side_only(spark, sf_dir):
    """Multi-probe: the (n_planes+1)-way fan-out must ride the tiny
    BROADCAST query side (Generate/explode above the broadcast
    exchange), never the corpus — the bucket join stays a broadcast
    hash join with the corpus in one bucketed pass."""
    plan = _plan(QUERIES["q_multiprobe_lsh"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Generate explode" in plan
    # the explode sits on the broadcast build side: it appears after
    # (below, in print order) the BroadcastExchange
    assert plan.index("Generate explode") > plan.index("BroadcastExchange")


def test_sizing_report_is_two_count_aggs(spark, sf_dir):
    # the cheapest distributed statistic: column-pruned count aggregates
    # (no payload columns survive to the agg) + map-side knob arithmetic
    plan = _plan(QUERIES["q_sizing_report"](spark, sf_dir))
    assert "Exchange" in plan  # the two count aggs are two-phase
    assert "text" not in plan.split("ReadSchema")[-1]
    assert "embedding" not in plan.split("ReadSchema")[-1]


def test_shard_balance_single_scan_window_over_aggregate(spark, sf_dir):
    # ONE documents scan; the corpus total is a window over the 8
    # already-aggregated shard rows (bounded by the constant shard
    # count), never a join back or a second scan subtree
    plan = _plan(QUERIES["q_shard_balance"](spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_quality_calibration_no_global_sort_or_ntile(spark, sf_dir):
    # decile = strict-greater count over 9 broadcast cutoff literals —
    # NOT an ntile over a single-partition data-sized window (the scale
    # trap). The only windows allowed are gopher's per-doc bigram leads
    # (partitioned by doc_id, bounded by doc length).
    import re

    plan = _plan(QUERIES["q_quality_calibration"](spark, sf_dir))
    # \b so "percentile(" (the cutoff aggregate, wanted) doesn't match
    assert not re.search(r"\bntile\(", plan)
    assert "rangepartitioning" not in plan  # no global sort
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line  # every window is per-doc
    # the NULL-text filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(text)" in plan


def test_lsh_band_stats_never_materializes_pairs(spark, sf_dir):
    # bucket sizes then a size-class rollup: two bounded aggregates, no
    # self-join and no pair explode (the whole point of the health query)
    plan = _plan(QUERIES["q_lsh_band_stats"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("FileScan") == 1


def test_banded_signatures_single_definition_feeds_pairs(spark, sf_dir):
    # the banding extraction is behavior-preserving: pairs recomputed
    # from banded_signatures via bucket self-join == lsh_candidate_pairs
    from telecom_competitor_analysis_spark.operators.dedup import (
        banded_signatures,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sig = minhash_signature(docs, "doc_id", "text").localCheckpoint()
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, "doc_id").collect()
    }
    b = banded_signatures(sig, "doc_id")
    a, c = b.alias("a"), b.alias("b")
    ref = {
        (r.id_a, r.id_b)
        for r in a.join(
            c,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    assert got == ref and len(ref) > 0


def test_semantic_decontaminate_prunes_probed_buckets(spark, sf_dir):
    # the screen reads the materialized index with dynamic partition
    # pruning on the probed buckets (never a corpus-wide pair stage)
    plan = _plan(QUERIES["q_semantic_decontaminate"](spark, sf_dir))
    assert "dynamicpruning" in plan or "DynamicPruning" in plan
    assert "CartesianProduct" not in plan


def test_lsh_recall_join_keys_on_bounded_exact_pairs(spark, sf_dir):
    # both legs are the capped candidate operators; the rollup has <= 9
    # groups and no global sort appears anywhere
    plan = _plan(QUERIES["q_lsh_recall"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_bradley_terry_blocked_pairs_and_integer_iterations(spark, sf_dir):
    # comparisons self-join is an EQUI-join on the part key (pair volume
    # bounded by rows-per-part, never corpus^2); both MM iterations are
    # integer arithmetic — no float division node anywhere
    plan = _plan(QUERIES["q_bradley_terry"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_dedup_zero_exchange_canonicalize_partial_agg(spark, sf_dir):
    # canonicalization is a per-row projection (no exchange of its own);
    # the shuffles are exactly the groupBy's distinct-agg expansion: one
    # keyed on (key, raw_url) for countDistinct, one on the canonical
    # key — both preceded by map-side partial aggregation
    plan = _plan(QUERIES["q_url_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_min" in plan and "partial_count" in plan
    assert "rangepartitioning" not in plan


def test_line_filter_is_scan_project_filter_no_exchange(
    spark, sf_dir, split_sf_dir
):
    # the whole C4 line screen happens inside the row: on a well-split
    # scan (every big scan) it runs at scan speed; any exchange in THAT
    # plan is a bug. On the one-file testdata the only exchange allowed
    # is the under-split guard's round-robin.
    plan = _plan(QUERIES["q_line_filter"](spark, split_sf_dir))
    assert "Exchange" not in plan
    assert "BatchScan" in plan or "FileScan" in plan
    local = _plan(QUERIES["q_line_filter"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in local


def test_ngram_novelty_no_pair_stage(spark, sf_dir):
    # novelty is df==1 accounting over (doc, gram): a unique gram
    # carries its single owner through the counting aggregate, so the
    # ONLY join is the doc-keyed combine of two per-doc aggregates —
    # never a gram-keyed join-back over all gram rows (measured 2.1x
    # at x100), never a count window over partitionBy(gram) (hot-gram
    # buffer), never a doc-vs-doc pair join.
    plan = _plan(QUERIES["q_ngram_novelty"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "windowspecdefinition(sh" not in plan  # no hot-gram buffer
    joins = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "BroadcastHashJoin" in ln
        or "ShuffledHashJoin" in ln
    ]
    assert len(joins) == 1 and "doc_id#" in joins[0] and "sh#" not in joins[0]
    assert "partial_count" in plan  # both legs collapse map-side


def test_preference_pairs_partial_chosen_and_bounded_window(spark, sf_dir):
    # the chosen side is min(struct) per part — partial-aggregable, no
    # window over the raw quotes; the rank window runs group-limited
    plan = _plan(QUERIES["q_preference_pairs"](spark, sf_dir))
    assert "partial_min" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_mutation_recall_no_pair_stage(spark, sf_dir):
    # the (doc, twin) pairs exist per-row by construction: the only
    # join is the doc_id-keyed combine of the jaccard and banding legs
    # (never a candidate pair join), every groupBy partial-aggregates,
    # and nothing range-partitions
    plan = _plan(QUERIES["q_mutation_recall"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "partial_min" in plan  # map-side minhash combine


def test_triangle_count_equi_joins_only(spark, sf_dir):
    # wedge + closure joins are equi-joins on node keys; the only
    # nested-loop joins are the three 1-row aggregate combines
    plan = _plan(QUERIES["q_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_annotator_agreement_no_self_join_on_items(spark, sf_dir):
    # the 3 annotator pairs come from an IN-ROW explode, never a
    # long-table self-join on vec_id: no join keyed on the item id
    plan = _plan(QUERIES["q_annotator_agreement"](spark, sf_dir))
    # no join operator line may key on vec_id (a self-join on the item
    # id would show it in the join condition)
    for ln in plan.splitlines():
        if "Join" in ln:
            assert "vec_id" not in ln, ln
    # joins exist only on (k_a, k_b[, c]) — tiny keys; no exchange on vec_id
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln


def test_containment_pairs_materialized_once_no_cartesian(spark, sf_dir):
    # the ranked shingle universe is localCheckpointed ONCE and every
    # consumer (prefix side, full side, verify arrays) scans the
    # checkpointed RDD — the returned plan must hold NO parquet scans
    # (they all happened during the eager checkpoint) and no cartesian
    # anywhere; candidates come from the prefix-filtered equi-join
    plan = _plan(QUERIES["q_containment_pairs"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pass_at_k_single_exchange(spark, sf_dir):
    # one partial-aggregable groupBy(task_id); the product expr is a
    # post-agg projection — no second corpus pass, no window
    plan = _plan(QUERIES["q_pass_at_k"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan


def test_scaling_fit_single_exchange(spark, sf_dir):
    # five integer sums collapse map-side; slope/intercept are
    # projections over the aggregated source rows
    plan = _plan(QUERIES["q_scaling_fit"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "Window" not in plan


def test_winrate_ci_one_user_window_one_pair_agg(spark, sf_dir):
    # the lead window exchanges on user_id once; the pair aggregate is
    # partial-aggregable; no global sort anywhere
    plan = _plan(QUERIES["q_winrate_ci"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_textrank_top10_never_global_sort(spark, sf_dir):
    # the final top-10 must be TakeOrderedAndProject, not a global sort
    plan = _plan(QUERIES["q_textrank_keywords"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_expectations_no_cartesian_and_bounded_output(spark, sf_dir):
    # level checks ride per-table aggregates; referential is one
    # anti-join; the two 1-row combines are the only nested loops
    plan = _plan(QUERIES["q_expectations"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_label_propagation_keys_on_node_only(spark, sf_dir):
    # every exchange keys on node/label/word-side keys — never a pair
    # self-join on anything corpus-quadratic; no cartesian
    plan = _plan(QUERIES["q_label_propagation"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_doremi_step_single_corpus_exchange(spark, sf_dir):
    # one partial-aggregated groupBy(source) over the corpus; the
    # min/sum renormalizers are 1-row broadcast combines
    plan = _plan(QUERIES["q_doremi_step"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "rangepartitioning" not in plan


def test_span_corruption_is_map_only(spark, split_sf_dir):
    # the pair build is scan-speed: zero exchanges on a well-split scan
    # (the under-split round-robin only fires on the one-file testdata)
    plan = _plan(QUERIES["q_span_corruption"](spark, split_sf_dir))
    assert "Exchange" not in plan


def test_prefix_rule_match_broadcasts_rules_no_theta_join(spark, sf_dir):
    # the LIKE-prefix theta-join rewritten as prefix-chain explode +
    # equi-join: rules broadcast, no nested loop anywhere
    plan = _plan(QUERIES["q_prefix_rule_match"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_k_anonymity_single_pass_grouping_sets(spark, sf_dir):
    # both generalization levels share ONE scan via Expand (grouping
    # sets), then a <= 2-group rollup
    plan = _plan(QUERIES["q_k_anonymity"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_corpus_drift_windows_only_over_aggregated_rows(spark, sf_dir):
    # each leg is one partial-aggregated groupBy over the corpus; the
    # ECDF cumsum / totals windows run over the bounded rollup only —
    # no range partitioning (global sort) anywhere
    plan = _plan(QUERIES["q_corpus_drift"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_power_iteration_checkpoints_bound_iterates(spark, sf_dir):
    """r12 wave 5: q_power_iteration cuts each 64-row iterate's lineage
    with a lazy localCheckpoint, so the doubled-per-consumer groupBy
    re-derivation is gone — the executed plan must not re-derive the
    Gram scan per consumer (≤ a handful of Exchanges, no parquet scans
    beyond the checkpointed boundary), and results stay byte-stable."""
    from telecom_competitor_analysis_spark.plans import QUERIES

    df = QUERIES["q_power_iteration"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 64
    # deterministic integer contract: re-running yields identical rows
    again = QUERIES["q_power_iteration"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # lineage truncated: the final plan reads the v1/v2 iterate
    # checkpoints (the rescaled-matrix checkpoint sits below both and
    # cannot be seen here). The executed plan prints 10 such scans at
    # sf0.001 (final and initial plan); dropping the v1 cut gives 13
    # and the v2 cut 20, so the exact count pins both, and the
    # docstring's "no parquet scans beyond the boundary / handful of
    # Exchanges" claims are pinned below.
    assert plan.count("Scan ExistingRDD") == 10
    assert "Scan parquet" not in plan
    # measured 22 on the checkpointed form at sf0.001; the unreverted
    # form doubles subtree references per unrolled step, so a revert
    # lands far above this bound
    assert plan.count("Exchange") <= 25


@pytest.mark.slow  # plan-shape tier, runs real Spark jobs
def test_knn_hubness_window_shuffle_is_narrow(spark, sf_dir):
    """r13 (guide §2.3): q_knn_hubness scores candidate pairs BEFORE the
    top-10 window's hashpartitioning(query_id) exchange, so the shuffle
    carries (query_id, neighbor_id, __score) — the full embedding
    vectors must not appear anywhere above the bucket join. Pinned by
    asserting the executed plan computes __score below the Window (no
    dot-product expression inside the Sort/Window operators)."""
    from telecom_competitor_analysis_spark.plans import QUERIES

    df = QUERIES["q_knn_hubness"](spark, sf_dir)
    rows = df.collect()
    assert sum(r.n_vectors for r in rows) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__score" in plan
    spark.catalog.clearCache()


@pytest.mark.slow  # plan-shape tier, runs real Spark jobs
def test_bradley_terry_comparison_join_not_broadcast(spark, sf_dir):
    """r13 (guide §3.1): the 600k-row comparison side must not be
    broadcast — the BHJ build was single-threaded and the 9M-pair probe
    ran at the one-row-group scan's parallelism (8.0-10.3 s vs
    1.2-2.5 s for the pairs subtree at sf0.1). The shuffle_hash hint
    pins a ShuffledHashJoin for the part-blocked self-join."""
    from telecom_competitor_analysis_spark.plans import QUERIES

    df = QUERIES["q_bradley_terry"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    spark.catalog.clearCache()


@pytest.mark.slow  # plan-shape tier, runs real Spark jobs
def test_winsorize_percentile_input_is_repartitioned(spark, sf_dir):
    """r13 (guide §6/§2.6): the exact-percentile partial aggregation must
    not run on the single one-row-group scan split — the under-split
    guard's round-robin repartition shows up as a RoundRobinPartitioning
    exchange below the aggregate."""
    from telecom_competitor_analysis_spark.plans import QUERIES

    df = QUERIES["q_winsorize"](spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "roundrobin" in plan.lower() or "RoundRobinPartitioning" in plan


def test_compute_bound_map_queries_keep_the_parallelism_guard(
    spark, sf_dir
):
    # full-surface ×10 sweep finding: pii_scrub/fertility/embedding_quantize
    # serialized compute-bound regex/HOF stages onto a 1-2-split scan
    # (14×/6.2×/6.2× at ×10). The guard repartitions under-split scans;
    # at the tiny test SF that must show as a round-robin exchange in
    # the plan. Regression here = someone dropped the guard.
    for q in ("q_pii_scrub", "q_fertility", "q_embedding_quantize"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "roundrobin" in plan.lower(), q


# Query-level persist() calls that did not pay in interleaved
# same-session A/Bs on 4 cores (NOTES.md) and were deleted. A persist
# inside a query builder is never unpersisted (the builder returns a
# lazy frame), so it would stay in the session's CacheManager and could
# be substituted into later plans.
PERSIST_DELETED = (
    "q_band_tuning",
    "q_candidate_precision",
    "q_cluster_chaining",
    "q_conformal_coverage",
    "q_containment_pairs",
    "q_corpus_curate",
    "q_corpus_overlap",
    "q_dsir_weights",
    "q_ece",
    "q_embedding_dup",
    "q_graph_modularity",
    "q_hard_negatives",
    "q_kmeans_assign",
    "q_lsh_recall",
    "q_ngram_jaccard",
    "q_nprobe_sweep",
    "q_oov_rate",
    "q_perplexity_mix",
    "q_pq_recall",
    "q_quality_calibration",
    "q_quantile_sketch_audit",
    "q_silhouette",
    "q_textrank_keywords",
)

# Queries whose persist() paid in two such A/Bs; each kept site carries
# its "measured X → Y s" note.
PERSIST_KEPT = ("q_bradley_terry", "q_knn_hubness", "q_triangle_count")


@pytest.mark.parametrize("name", PERSIST_DELETED)
def test_query_leaves_no_cache_entry(spark, sf_dir, name):
    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", PERSIST_KEPT)
def test_kept_persist_is_in_the_plan(spark, sf_dir, name):
    spark.catalog.clearCache()
    try:
        assert "InMemoryTableScan" in _plan(QUERIES[name](spark, sf_dir))
    finally:
        spark.catalog.clearCache()


# Query-level eager localCheckpoint()s that did not pay in interleaved
# same-session A/Bs on 4 cores (NOTES.md) and were deleted. An eager
# checkpoint runs its own Spark job while the query is being built.
CHECKPOINT_DELETED = (
    "q_ams_f2",
    "q_anomaly_mad",
    "q_bpe_compression_curve",
    "q_compact_plan",
    "q_countmin_audit",
    "q_ndcg",
    "q_nprobe_sweep",
    "q_pq_ann",
    "q_pq_recall",
    "q_two_stage_rerank",
)

# Queries whose localCheckpoint() paid in such an A/B; each kept site
# carries its "measured X → Y s" note.
CHECKPOINT_KEPT = (
    "q_bpe_apply",
    "q_containment_pairs",
    "q_mmr_select",
    "q_quantile_sketch_audit",
    "q_triangle_count",
)
# of those, the ones whose kept checkpoint is eager
CHECKPOINT_KEPT_EAGER = (
    "q_bpe_apply",
    "q_containment_pairs",
    "q_mmr_select",
    "q_quantile_sketch_audit",
)


def _build_job_ids(spark, sf_dir, names):
    """Ids of every Spark job run while building each of ``names``'
    DataFrames (no action is taken on them)."""
    return job_ids(spark, lambda: [QUERIES[n](spark, sf_dir) for n in names])


def _build_stage_names(spark, sf_dir, name):
    """Names of the stages of every Spark job run while building
    ``name``'s DataFrame."""
    st = spark.sparkContext.statusTracker()
    # a stage skipped because its shuffle output already exists has no
    # StageInfo
    return [
        info.name
        for j in _build_job_ids(spark, sf_dir, [name])
        for s in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(s)) is not None
    ]


@pytest.mark.parametrize("name", CHECKPOINT_DELETED)
def test_query_build_runs_no_checkpoint_job(spark, sf_dir, name):
    # the first build infers the schema of each table it reads for the
    # first time in the process; the second reads them all with a kept
    # schema, so any job it runs is the query's own (an eager checkpoint)
    _build_job_ids(spark, sf_dir, [name])
    assert _build_job_ids(spark, sf_dir, [name]) == []


@pytest.mark.parametrize("name", CHECKPOINT_KEPT_EAGER)
def test_kept_eager_checkpoint_runs_its_job_at_build(spark, sf_dir, name):
    # the control for the test above: a kept eager checkpoint's job is
    # recorded by the same second build
    _build_job_ids(spark, sf_dir, [name])
    stages = _build_stage_names(spark, sf_dir, name)
    assert [s for s in stages if s.startswith("localCheckpoint")]


def _star_queries() -> tuple[str, ...]:
    """The ``star_queries`` benchmark workload's query names, read from
    perfbench/workloads.py without importing it."""
    path = Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py"
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "STAR_QUERIES" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("STAR_QUERIES not found in perfbench/workloads.py")


def test_star_queries_build_runs_no_job_once_tables_are_read(spark, sf_dir):
    # every parquet read after a dataset's first passes the kept schema, so
    # rebuilding the benchmark's star queries runs no schema-inference job
    names = _star_queries()
    assert len(names) == 16
    _build_job_ids(spark, sf_dir, names)
    assert _build_job_ids(spark, sf_dir, names) == []


@pytest.mark.parametrize("name", CHECKPOINT_KEPT)
def test_kept_checkpoint_is_in_the_plan(spark, sf_dir, name):
    try:
        assert "Scan ExistingRDD" in _plan(QUERIES[name](spark, sf_dir))
    finally:
        spark.catalog.clearCache()  # q_triangle_count's kept persist
