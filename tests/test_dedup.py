"""Behavioral tests for the dedup operators on synthetic near-duplicate
fixtures (the testdata corpus has no planted dups, so these prove the
operators actually catch what they claim to catch). Also the CDC
chunking query's plan shape and share counts."""

from __future__ import annotations

from telecom_competitor_analysis_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_jaccard_pairs,
    simhash,
)
from telecom_competitor_analysis_spark.plans import QUERIES
from tests.oracle_utils import formatted_plan

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away now"  # 1 word off
FAR = "completely different content about spark shuffles and parquet files here"


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, FAR)], "doc_id long, text string"
    )


def test_exact_dedup_groups(spark):
    groups = {r.keeper_id: r.n_copies for r in
              exact_dedup_groups(_docs(spark), "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1+2 identical → keeper is min id
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_lsh_finds_exact_and_near(spark):
    sig = minhash_signature(_docs(spark), "doc_id", "text", n_hashes=4)
    pairs = {(r.id_a, r.id_b) for r in
             lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated never


def test_simhash_near_dup_distance(spark):
    sigs = {r.doc_id: r.simhash for r in
            simhash(_docs(spark), "doc_id", "text", 16).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert sigs[1] == sigs[2]  # identical text → identical signature
    assert ham(sigs[1], sigs[3]) <= ham(sigs[1], sigs[4])  # near ≤ far


def test_simhash64_near_dup_distance_and_pairs(spark):
    """64-bit signatures: identical docs share a signature, near beats far,
    and the 4-band pair path (pigeonhole-complete for hamming ≤ 3) finds
    the identical pair with hamming 0 while never pairing unrelated docs."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    sigs = {r.doc_id: r.simhash for r in
            simhash(_docs(spark), "doc_id", "text", 64).collect()}
    assert all(len(s) == 64 for s in sigs.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) <= ham(sigs[1], sigs[4])

    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_candidate_pairs(
        simhash(_docs(spark), "doc_id", "text", 64), "doc_id",
        bands=4, max_hamming=3, sig_bits=64,
    ).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_dedup_clusters_transitive(spark):
    """A chain a-b, b-c must land in ONE cluster labeled by the min id —
    the transitivity the greedy pairwise drop can't see."""
    from telecom_competitor_analysis_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    vertices = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id long")
    got = {r.id: r.cluster_id
           for r in dedup_clusters(pairs, vertices, "doc_id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_dedup_clusters_long_chain_converges(spark):
    """A 13-hop chain must fully converge to the min label within the
    default iteration budget — pointer doubling makes propagation
    O(log diameter), and non-convergence raises instead of silently
    returning partial labels."""
    from telecom_competitor_analysis_spark.operators.dedup import dedup_clusters

    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, n + 1)], "doc_id long"
    )
    got = {r.id: r.cluster_id
           for r in dedup_clusters(pairs, vertices, "doc_id").collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_shingle_jaccard_ranks_near_above_far(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             shingle_jaccard_pairs(_docs(spark), "doc_id", "text",
                                   w=3, threshold=0.2).collect()}
    assert pairs[(1, 2)] == 1.0  # identical
    assert pairs[(1, 3)] >= 0.5  # near-dup well above threshold
    assert (1, 4) not in pairs  # unrelated filtered out


def _boilerplate_corpus(spark, n=40):
    """n otherwise-unrelated docs sharing one boilerplate shingle
    ('click here now'), plus one genuine near-dup pair (100/101)."""
    rows = [
        (i, f"click here now unique{i} filler{i} token{i} body{i} tail{i}")
        for i in range(n)
    ]
    rows += [(100, BASE), (101, NEAR)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingle_df_cap_bounds_pair_volume(spark):
    """A boilerplate shingle shared by every doc must NOT explode into
    O(n²) candidate pairs once its document frequency exceeds max_df —
    while true near-dups (sharing discriminative shingles) still pair."""
    docs = _boilerplate_corpus(spark)
    uncapped = shingle_jaccard_pairs(
        docs, "doc_id", "text", w=3, threshold=0.0, max_df=10**9
    )
    capped = shingle_jaccard_pairs(
        docs, "doc_id", "text", w=3, threshold=0.0, max_df=5
    )
    # uncapped: all 40 boilerplate docs pair with each other (~780 pairs)
    assert uncapped.count() > 700
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # capped: the boilerplate blowup is gone, the real near-dup survives
    assert len(capped_pairs) < 10
    assert (100, 101) in capped_pairs


def test_lsh_bucket_cap_bounds_pair_volume(spark):
    """A degenerate mega-bucket (here: identical text, hence identical
    signatures and band keys in every band) is dropped once it exceeds
    max_bucket_size; normal-size buckets still pair."""
    rows = [(i, "same boilerplate text repeated in every single document")
            for i in range(30)]
    rows += [(100, BASE), (101, BASE)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    uncapped = lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2,
                                   max_bucket_size=10**6)
    capped = lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2,
                                 max_bucket_size=5)
    assert uncapped.count() > 400  # 30-doc bucket → ~435 pairs
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert capped_pairs == {(100, 101)}  # small bucket unaffected


def test_simhash_pairs_find_identical_and_respect_cap(spark):
    from telecom_competitor_analysis_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    sigs = simhash(_docs(spark), "doc_id", "text", 16)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidate_pairs(sigs, "doc_id").collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text → identical signature
    # the far doc never pairs with anything at hamming <= 1
    assert not any(4 in p for p in pairs)

    # a mega-bucket (identical signatures everywhere) is dropped by the cap
    rows = [(i, "same text everywhere") for i in range(30)]
    big = simhash(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text", 16,
    )
    capped = simhash_candidate_pairs(big, "doc_id", max_bucket_size=5)
    assert capped.count() == 0


def test_band_divisibility_guards():
    """Indivisible band configs fail fast instead of silently dropping the
    trailing signature bits/components from every band key (ADVICE r4)."""
    import pytest

    from telecom_competitor_analysis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_est_pairs,
        simhash_candidate_pairs,
    )

    with pytest.raises(ValueError, match="divide evenly"):
        simhash_candidate_pairs(None, "doc_id", sig_bits=16, bands=3)
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_est_pairs(None, "doc_id", n_hashes=4, bands=3)
    with pytest.raises(ValueError, match="divide evenly"):
        lsh_candidate_pairs(None, "doc_id", n_hashes=4, bands=3)
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_candidate_pairs(None, "doc_id", sig_bits=64, bands=0)


def test_index_based_near_dup_matches_recompute(spark, tmp_path):
    """near_dups_against_index over a frozen index must equal
    shingle_jaccard_pairs_between's recompute when every batch shingle
    lies inside the index universe, and must only tokenize the batch
    (the keep-list contributes parquet postings)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        build_shingle_index,
        near_dups_against_index,
        shingle_jaccard_pairs_between,
    )

    texts = [
        "a b c d e f g h i j",
        "p q r s t u v w x y",
        "m n o mm nn oo pp qq rr ss",
    ]
    keep = spark.createDataFrame(
        [(200 + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    # batch docs reuse keep-list vocabulary (subset shingles) so the
    # frozen-universe semantics coincide with the recompute
    batch = spark.createDataFrame(
        [(1, texts[0]), (2, "p q r s t u v w x z"), (3, texts[2])],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "shidx")
    build_shingle_index(keep, "doc_id", "text", idx, w=3)

    via_index = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in near_dups_against_index(
            batch, spark, idx, "doc_id", "text", w=3, threshold=0.2
        ).collect()
    }
    via_recompute = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in shingle_jaccard_pairs_between(
            batch, keep, "doc_id", "text", w=3, threshold=0.2
        ).collect()
    }
    # doc 2's final shingle ("v w x z") is NOVEL: under the frozen index
    # it still counts in n_a (conservative), same as the recompute's
    # shared universe — the two agree here because w=3 shingles of the
    # batch are otherwise all present in the index
    assert via_index == via_recompute
    assert (1, 200) in via_index and via_index[(1, 200)] == 1.0
    assert (3, 202) in via_index


def test_frozen_index_is_conservative_on_novel_content(spark, tmp_path):
    """A batch doc that is half novel content must score LOWER against
    the index than its overlapping half would suggest — novel shingles
    count in n_a."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        build_shingle_index,
        near_dups_against_index,
    )

    keep = spark.createDataFrame(
        [(200, "a b c d e f g h i j")], "doc_id long, text string"
    )
    idx = str(tmp_path / "shidx2")
    build_shingle_index(keep, "doc_id", "text", idx, w=3)
    batch = spark.createDataFrame(
        [(1, "a b c d e f g h i j zz yy xx ww vv uu tt ss")],
        "doc_id long, text string",
    )
    got = near_dups_against_index(
        batch, spark, idx, "doc_id", "text", w=3, threshold=0.1
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_shared == 8 and r.n_a > r.n_shared  # novel shingles counted
    # 8 shared / (16 + 8 - 8) = 0.5 — half the score the overlapping
    # prefix alone (8/8 = 1.0) would suggest
    assert r.jaccard == 0.5


def test_pagerank_hub_outranks_leaves(spark):
    """Star graph (hub 1 connected to 5 leaves, symmetric): the hub must
    hold the highest score, leaves tie exactly (integer arithmetic),
    and total mass stays within rounding of 1e6."""
    from telecom_competitor_analysis_spark.operators.graph import (
        pagerank_micro,
    )

    pairs = [(1, k) for k in range(2, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    got = {r.id: r.pr_micro for r in pagerank_micro(edges, iters=3).collect()}
    assert len(got) == 6
    leaves = {got[k] for k in range(2, 7)}
    assert len(leaves) == 1  # exact integer tie
    assert got[1] > max(leaves)
    assert abs(sum(got.values()) - 1_000_000) < 100  # micros of rounding


def test_kmv_distinct_estimates_and_exact_mode(spark):
    from telecom_competitor_analysis_spark.operators.dedup import (
        kmv_distinct,
    )

    # 2000 distinct values in group 'big', 10 in 'small' (exact mode)
    rows = [("big", i) for i in range(2000)] + [
        ("big", i) for i in range(500)  # duplicates: must not inflate
    ] + [("small", i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: (r.est_distinct, r.n_exact)
           for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert got["small"] == (10, 10)  # below k -> sketch is exact
    est, exact = got["big"]
    assert exact == 2000
    # KMV rel. error ~ 1/sqrt(k-2) ≈ 13%; allow 3 sigma
    assert abs(est - 2000) / 2000 < 0.4


def test_materialized_artifact_cache(spark, tmp_path):
    """plans.artifacts._materialized: builds once per source
    fingerprint, reuses the artifact on identical input, rebuilds when
    the source parquet changes (the warehouse-table contract the
    shared pair graph / shingle index rely on)."""
    import pandas as pd

    from telecom_competitor_analysis_spark.plans.artifacts import _materialized

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a"]}).to_parquet(
        sf / "documents.parquet"
    )
    calls = []

    def build(path):
        calls.append(path)
        pd.DataFrame({"x": [len(calls)]}).to_parquet(f"{path}/t.parquet")

    p1 = _materialized(spark, str(sf), "probe", "documents", build)
    p2 = _materialized(spark, str(sf), "probe", "documents", build)
    assert p1 == p2 and len(calls) == 1
    assert pd.read_parquet(f"{p1}/t.parquet").x.iloc[0] == 1

    # source change → new fingerprint → rebuild (fresh path)
    pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]}).to_parquet(
        sf / "documents.parquet"
    )
    p3 = _materialized(spark, str(sf), "probe", "documents", build)
    assert p3 != p1 and len(calls) == 2

    # a crashed build (no fingerprint marker) is rebuilt, not reused
    import os

    os.remove(f"{p3}/_FINGERPRINT")
    p4 = _materialized(spark, str(sf), "probe", "documents", build)
    assert p4 == p3 and len(calls) == 3


def test_materialized_invalidates_on_code_and_env_root(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6: (a) the fingerprint carries a builder-code component —
    changing ARTIFACT_SCHEMA_VERSION (the explicit bump knob for semantic
    changes the module hash can't see) must rebuild; (b) the cache root
    honors TCAS_MATERIALIZED_DIR; (c) _source_stat walks partitioned
    sources recursively, so an in-place part-file rewrite inside a
    partition subdir changes the fingerprint."""
    import os

    import pandas as pd

    from telecom_competitor_analysis_spark.plans import artifacts as qe

    sf = tmp_path / "sf"
    part = sf / "documents.parquet" / "lang=en"
    part.mkdir(parents=True)
    pd.DataFrame({"doc_id": [1], "text": ["a"]}).to_parquet(
        part / "part-0.parquet"
    )
    monkeypatch.setenv("TCAS_MATERIALIZED_DIR", str(tmp_path / "cache"))
    calls = []

    def build(path):
        calls.append(path)
        pd.DataFrame({"x": [len(calls)]}).to_parquet(f"{path}/t.parquet")

    p1 = qe._materialized(spark, str(sf), "probe", "documents", build)
    assert p1.startswith(str(tmp_path / "cache")) and len(calls) == 1

    # builder-code change → different fingerprint → rebuild
    monkeypatch.setattr(qe, "ARTIFACT_SCHEMA_VERSION", "test-bump")
    p2 = qe._materialized(spark, str(sf), "probe", "documents", build)
    assert p2 != p1 and len(calls) == 2

    # in-place rewrite of a nested part file (parent dir stat unchanged
    # is exactly the hazard) → fingerprint must change
    stat_before = qe._source_stat(str(sf), "documents")
    pd.DataFrame({"doc_id": [1], "text": ["CHANGED"]}).to_parquet(
        part / "part-0.parquet"
    )
    os.utime(sf / "documents.parquet")  # normalize parent dir mtime noise
    assert qe._source_stat(str(sf), "documents") != stat_before


def test_materialized_keeps_concurrent_winner(spark, tmp_path):
    """Lost-race semantics: if a concurrent builder of the SAME
    fingerprint completes while our build is in flight, our rename must
    KEEP the winner's artifact (identical by construction) — never
    delete or replace a completed artifact."""
    import os

    import pandas as pd

    from telecom_competitor_analysis_spark.plans import artifacts as qe

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a"]}).to_parquet(
        sf / "documents.parquet"
    )
    fp = qe._fingerprint(str(sf), "race", "documents")
    winner = os.path.join(qe._cache_root(), f"race_{fp[:16]}")

    def build(path):
        # simulate the concurrent winner landing mid-build
        os.makedirs(winner, exist_ok=True)
        pd.DataFrame({"x": ["winner"]}).to_parquet(f"{winner}/t.parquet")
        with open(f"{winner}/_FINGERPRINT", "w") as fh:
            fh.write(fp)
        pd.DataFrame({"x": ["loser"]}).to_parquet(f"{path}/t.parquet")

    got = qe._materialized(spark, str(sf), "race", "documents", build)
    assert got == winner
    assert pd.read_parquet(f"{winner}/t.parquet").x.iloc[0] == "winner"


def test_cdc_chunks_has_no_pair_stage(spark, sf_dir):
    # CDC's whole point: sharing is a groupBy on the digest — no join,
    # no cartesian, anywhere
    plan = formatted_plan(QUERIES["q_cdc_chunks"](spark, sf_dir))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunks_share_counts_consistent(spark, sf_dir):
    for r in QUERIES["q_cdc_chunks"](spark, sf_dir).collect():
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs
        assert r.len_words >= 1


def test_edit_distance_pairs_bounds_and_plan(spark, sf_dir):
    df = QUERIES["q_edit_distance_pairs"](spark, sf_dir)
    plan = formatted_plan(df)
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


def test_frame_dedup_no_pair_stage(spark, sf_dir):
    df = QUERIES["q_frame_dedup"](spark, sf_dir)
    plan = formatted_plan(df)
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


def test_cluster_chaining_density_bounds(spark, sf_dir):
    """Chaining-audit identities: every multi-node cluster has at
    least the spanning-tree edge count (n-1 — CC needs connectivity),
    at most the complete graph, the chained flag is exactly
    density < 1, and at least one tight (density = 1) cluster exists
    on the fixture (pairs themselves form 2-clusters)."""
    rows = QUERIES["q_cluster_chaining"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_nodes >= 2
        assert r.n_nodes - 1 <= r.n_edges <= r.possible_pairs
        assert r.possible_pairs == r.n_nodes * (r.n_nodes - 1) // 2
        assert r.density_micro == r.n_edges * 2_000_000 // (
            r.n_nodes * (r.n_nodes - 1)
        )
        assert r.chained == (r.n_edges < r.possible_pairs)
    assert any(not r.chained for r in rows)
