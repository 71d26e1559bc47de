"""ANN quality checks: the approximate methods must (a) return subsets of
plausible neighbors and (b) achieve non-trivial recall@10 against the
brute-force exact baseline — an approximation that recalls nothing is a
bug, not an approximation. Also pins the IVF probe, PQ and k-means
operator internals their consumers rely on, the IVFPQ composition
against brute-force exact top-k, the scaled SemDedup blocker, and the
similarity-family queries' plan shapes and bounds."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.similarity import (
    cosine_topk,
    ivf_probe,
    ivf_topk,
    lsh_bucketed_topk,
    pq_adc_topk,
    pq_scored_pairs,
)
from telecom_competitor_analysis_spark.sources.readers import load_table
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.plans.similarity import (
    SEMDEDUP_PLANES_EXPR,
    SEMDEDUP_TARGET_BUCKET,
)
from tests.oracle_utils import formatted_plan


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # unpersist at module teardown: a cached bare-scan plan left in the
    # CacheManager substitutes an InMemoryTableScan into EVERY later
    # embeddings query in the session, silently changing other test
    # files' plan assertions under non-alphabetical orderings (found
    # in r12 while bisecting a test-order-dependent failure).
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    hits = sum(len(approx.get(q, set()) & ns) for q, ns in exact.items())
    total = sum(len(ns) for ns in exact.values())
    return hits / total


def test_ann_recall_against_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(cosine_topk(emb, queries, k=10))
    assert all(len(v) == 10 for v in exact.values())

    lsh = _topk_sets(lsh_bucketed_topk(emb, queries, dim=64, k=10, n_planes=2))
    ivf = _topk_sets(ivf_topk(emb, queries, k=10, n_anchors=4))

    # coarse settings (4 buckets) scan ~1/4 of the corpus; true neighbors
    # concentrate in the query's bucket, so recall must beat the ~25%
    # random-scan floor
    assert _recall(lsh, exact) >= 0.3, f"LSH recall {_recall(lsh, exact)}"
    assert _recall(ivf, exact) >= 0.3, f"IVF recall {_recall(ivf, exact)}"


def test_incremental_topk_matches_full_recompute(spark, emb):
    """Maintaining top-k across two corpus batches must equal the one-shot
    top-k over the full corpus."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        incremental_topk,
    )
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") < 3)
    batch1 = emb.filter("vec_id % 2 = 0")
    batch2 = emb.filter("vec_id % 2 = 1")
    state = incremental_topk(None, batch1, queries, k=10)
    state = incremental_topk(state, batch2, queries, k=10)
    got = {(r.query_id, r.neighbor_id) for r in state.collect()}
    want = {(r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, queries, k=10).collect()}
    assert got == want


def test_ann_outputs_are_ranked_prefixes(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(emb, queries, k=10, n_anchors=4).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert ranks == list(range(1, len(ranks) + 1))


def test_embedding_dup_lsh_blocking_recalls_planted_dups(spark):
    """The LSH-bucket blocking in q_embedding_dup must recall most planted
    near-duplicates (cos ≈ 0.99 pairs land in the same sign bucket with
    high probability) while scoring far fewer candidate pairs than the
    all-pairs brute force. Deterministic: seeded vectors, md5 planes."""
    import numpy as np

    from telecom_competitor_analysis_spark.operators.similarity import (
        cosine,
        hyperplane_sign_bucket,
    )

    rng = np.random.default_rng(7)
    dim, n_base = 64, 30
    base = rng.normal(size=(n_base, dim))
    rows = []
    for i, v in enumerate(base):
        dup = v + rng.normal(scale=0.02, size=dim)  # cos ≈ 0.999
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bucketed = df.withColumn(
        "bucket", hyperplane_sign_bucket(F.col("embedding"), dim, n_planes=4)
    )
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
    )
    b = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    cand = a.join(b, on="bucket").filter(F.col("id_a") < F.col("id_b"))
    got = {
        (r.id_a, r.id_b)
        for r in cand.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(n_base)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.6, f"planted-dup recall {recall}"
    # blocking actually prunes: candidate volume ≪ all-pairs
    n_cand = cand.count()
    assert n_cand < (2 * n_base) * (2 * n_base - 1) // 2 / 3


def test_ivf_index_probe_recall_and_exact_degradation(spark, emb, tmp_path):
    """ann_against_index over a materialized IVF index: (a) nprobe=2
    candidates are a superset of nprobe=1 per query (monotone recall),
    (b) nprobe = n_anchors probes every bucket and must EQUAL the
    brute-force exact top-k, and (c) the probe join prunes the
    bucket-partitioned scan dynamically (DPP in the plan)."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_anchors=8)
    queries = emb.filter(F.col("vec_id") < 5)

    p1 = _topk_sets(ann_against_index(queries, spark, idx, k=10, nprobe=1))
    p2 = _topk_sets(ann_against_index(queries, spark, idx, k=10, nprobe=2))
    exact = _topk_sets(cosine_topk(emb, queries, k=10))
    r1, r2 = _recall(p1, exact), _recall(p2, exact)
    assert r2 >= r1 > 0

    full = ann_against_index(queries, spark, idx, k=10, nprobe=8)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(
            tuple,
            cosine_topk(emb, queries, k=10).collect(),
        )
    )

    plan = ann_against_index(
        queries, spark, idx, k=10, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_kmeans_assign_deterministic_and_sane(spark):
    """kmeans_assign on a planted 2-cluster layout: (a) every vector
    lands with its own cluster's seed after 2 Lloyd rounds, (b) the
    result is identical under different partitioning (the integer-micro
    centroid discipline), (c) cluster ids are seed ids."""
    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        kmeans_assign,
    )

    # two tight, well-separated direction clusters in 4d; seeds (the 2
    # lowest ids) fall one in each cluster
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        jit = 0.01 * (i % 5)
        rows.append(
            {"vec_id": i, "embedding": [base[0], base[1], jit, 0.02 * (i % 3)]}
        )
    emb = spark.createDataFrame(pd.DataFrame(rows))

    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(
            emb, "vec_id", "embedding", k=2, iters=2, dim=4
        ).collect()
    }
    assert set(got.values()) == {0, 1}
    for i, cid in got.items():
        assert cid == i % 2, f"vec {i} assigned {cid}"

    repart = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(
            emb.repartition(7), "vec_id", "embedding", k=2, iters=2, dim=4
        ).collect()
    }
    assert repart == got


def _semdedup_planted(spark):
    """semdedup_prune(k=2, iters=2, dim=4, threshold=0.9) over planted
    vectors, uncollected."""
    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        semdedup_prune,
    )

    rows = []
    # group A: ids 0,2,4 near-identical; group B: ids 1,3 near-identical;
    # id 5: orthogonal singleton (cos 0 to everything)
    for i, vec in [
        (0, [1.0, 0.0, 0.001, 0.0]),
        (2, [1.0, 0.0, 0.002, 0.0]),
        (4, [1.0, 0.0, 0.0, 0.003]),
        (1, [0.0, 1.0, 0.001, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.002]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]:
        rows.append({"vec_id": i, "embedding": vec})
    emb = spark.createDataFrame(pd.DataFrame(rows))
    return semdedup_prune(
        emb, "vec_id", "embedding", k=2, iters=2, dim=4, threshold=0.9
    )


def test_semdedup_prunes_planted_neardups_keep_lowest(spark):
    """semdedup_prune: planted near-identical vectors are deduped to the
    LOWEST id per semantic group; well-separated vectors survive."""
    got = {r.vec_id: r.kept for r in _semdedup_planted(spark).collect()}
    assert len(got) == 6
    assert got[0] is True and got[2] is False and got[4] is False
    assert got[1] is True and got[3] is False
    assert got[5] is True  # cos 0 to every cluster-mate — never dropped


def test_semdedup_prune_leaves_no_cache_entry(spark):
    # the returned frame is lazy, so a persist() of the in-function
    # clustering could never be released
    spark.catalog.clearCache()
    assert len(_semdedup_planted(spark).collect()) == 6
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """append_to_ivf_index: build on the day-0 corpus, append the
    intra-day batch — probes over the appended index must EQUAL probes
    over a full rebuild (same anchor set: the day-0 corpus holds the
    lowest ids, so the rebuild picks identical anchors), and appended
    rows must respect the frozen per-bucket sub split."""
    import glob

    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
        append_to_ivf_index,
        build_ivf_index,
    )

    n, dim = 120, 8
    rows = [
        {
            "vec_id": i,
            "embedding": [1.0 + 0.01 * ((i * 3 + d) % 7) for d in range(dim)],
        }
        for i in range(n)
    ]
    emb = spark.createDataFrame(pd.DataFrame(rows))
    day0 = emb.filter(F.col("vec_id") < 80)
    intraday = emb.filter(F.col("vec_id") >= 80)

    appended = str(tmp_path / "appended")
    rebuilt = str(tmp_path / "rebuilt")
    build_ivf_index(day0, appended, n_anchors=4, max_bucket_size=20)
    append_to_ivf_index(intraday, spark, appended)
    build_ivf_index(emb, rebuilt, n_anchors=4, max_bucket_size=20)

    queries = emb.filter(F.col("vec_id") % 37 == 0)
    for nprobe in (1, 2, 4):
        a = sorted(
            map(
                tuple,
                ann_against_index(
                    queries, spark, appended, k=8, nprobe=nprobe
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                ann_against_index(
                    queries, spark, rebuilt, k=8, nprobe=nprobe
                ).collect(),
            )
        )
        assert a == b

    # appended rows landed inside the FROZEN sub layout: no new sub dir
    # exceeds the build-time sub count recorded in meta
    meta = {
        r.bucket: r.n_subs
        for r in spark.read.parquet(f"{appended}/meta").collect()
    }
    for d in glob.glob(f"{appended}/assignments/bucket=*/sub=*"):
        bucket = int(d.split("bucket=")[1].split("/")[0])
        sub = int(d.split("sub=")[1])
        assert sub < meta[bucket], f"{d} outside frozen sub split"


def test_ivf_index_bucket_cap_splits_hot_bucket(spark, tmp_path):
    """Skew guard (r6 VERDICT item 1): plant a hot cluster — every vector
    nearest the SAME anchor — and build with max_bucket_size. The hot
    bucket must be hash-split into ceil(count/cap) sub-partitions with no
    sub-partition holding the whole bucket, and probe answers must be
    IDENTICAL to the uncapped index (the split is physical layout only)."""
    import glob
    import os

    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
        build_ivf_index,
    )

    # 200 near-identical vectors: anchor policy picks the 4 lowest ids as
    # anchors; the tiny monotone last-dim component makes EVERY vector's
    # max dot product land on anchor 3 (largest last-dim) → one hot
    # bucket holding the whole corpus
    n, dim = 200, 8
    rows = [
        {
            "vec_id": i,
            "embedding": [10.0] + [0.5] * (dim - 2) + [1e-4 * i],
        }
        for i in range(n)
    ]
    emb = spark.createDataFrame(pd.DataFrame(rows))

    capped = str(tmp_path / "capped")
    flat = str(tmp_path / "flat")
    build_ivf_index(emb, capped, n_anchors=4, max_bucket_size=50)
    build_ivf_index(emb, flat, n_anchors=4)

    # physical layout: the hot bucket spans ≥ count/cap sub-dirs, and no
    # (bucket, sub) partition holds more than ~cap rows (hash-uniform
    # split; allow 2× slack for hash imbalance at this size)
    sub_dirs = glob.glob(f"{capped}/assignments/bucket=*/sub=*")
    by_bucket: dict[str, list[str]] = {}
    for d in sub_dirs:
        by_bucket.setdefault(os.path.dirname(d), []).append(d)
    hot = max(by_bucket.values(), key=len)
    assert len(hot) >= 3  # ≥ ceil(hot_count/50) with hot_count ≈ 200
    for d in sub_dirs:
        cnt = pd.concat(
            pd.read_parquet(f) for f in glob.glob(f"{d}/*.parquet")
        ).shape[0]
        assert cnt <= 100, f"{d}: {cnt} rows > 2x cap"

    # answers: capped ≡ uncapped for every nprobe
    queries = emb.filter(F.col("vec_id") < 5)
    for nprobe in (1, 2, 4):
        a = sorted(
            map(
                tuple,
                ann_against_index(
                    queries, spark, capped, k=10, nprobe=nprobe
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                ann_against_index(
                    queries, spark, flat, k=10, nprobe=nprobe
                ).collect(),
            )
        )
        assert a == b

    # DPP on the bucket level survives the two-level partitioning
    plan = ann_against_index(
        queries, spark, capped, k=10, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_ann_filtered_prefilter_semantics_and_pushdown(spark, emb, tmp_path):
    """Filtered search against the IVF index with the label carried
    inline: (a) nprobe = n_anchors (exhaustive probing) must EQUAL exact
    brute force over the label-filtered corpus — the pre-filter changes
    WHO is ranked, not the ranking; (b) pre-filtering beats
    post-filtering on this data: filtering the UNfiltered top-10 after
    the fact yields fewer than k survivors for every query; (c) the
    plan pushes the label predicate into the index parquet scan AND
    keeps the dynamic bucket pruning."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf_carry")
    build_ivf_index(
        emb, idx, n_anchors=8, max_bucket_size=50, carry_cols=("label",)
    )
    queries = emb.filter(F.col("vec_id") < 5)
    pred = F.col("label") == 3

    full = ann_against_index(
        queries, spark, idx, k=10, nprobe=8, pre_filter=pred
    )
    exact = cosine_topk(emb.filter(pred), queries, k=10)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )

    # post-filtering an unfiltered top-10 starves: every query keeps
    # fewer than k neighbors (labels are ~1/10th of the corpus each)
    unfiltered = ann_against_index(queries, spark, idx, k=10, nprobe=8)
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    post = (
        unfiltered.join(lab, on="neighbor_id")
        .filter(pred)
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert all(r["count"] < 10 for r in post)

    probe = ann_against_index(
        queries, spark, idx, k=10, nprobe=2, pre_filter=pred
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "PushedFilters: [" in plan and "EqualTo(label,3)" in plan


def test_kcenter_covers_planted_clusters_and_matches_bruteforce(spark):
    """kcenter_select on 4 planted well-separated clusters must pick
    exactly one point per cluster (the farthest-point guarantee), and
    the full selection sequence must equal a brute-force greedy
    reference."""
    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        kcenter_select,
    )

    # clusters at the corners of a square, side >> intra-cluster spread
    centers = [(0, 0), (1000, 0), (0, 1000), (1000, 1000)]
    rows = []
    vid = 0
    for cx, cy in centers:
        for dx, dy in ((0, 0), (1, 2), (3, 1)):
            rows.append((vid, [cx + dx, cy + dy] + [0] * 62))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "mv"])
    df = spark.createDataFrame(pdf).select(
        "vec_id", F.col("mv").cast("array<long>").alias("mv")
    )
    got = {
        r.sel_round: r.vec_id
        for r in kcenter_select(df, k=4).collect()
    }

    # brute-force greedy reference
    pts = {r[0]: r[1] for r in rows}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    sel = [min(pts)]
    for _ in range(3):
        best = max(
            ((vid, min(d2(v, pts[s]) for s in sel))
             for vid, v in pts.items()),
            key=lambda t: (t[1], -t[0]),
        )
        sel.append(best[0])
    assert [got[r] for r in range(4)] == sel
    # one selection per planted cluster
    assert sorted(got[r] // 3 for r in range(4)) == [0, 1, 2, 3]


def test_kcenter_degenerate_corpus_yields_distinct_ids(spark):
    """Fewer distinct vectors than k: the anti-join keeps the contract
    of k DISTINCT ids (ties at dmin=0 pick the lowest unselected id)
    instead of re-selecting round 0's point forever."""
    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        kcenter_select,
    )

    rows = [(i, [i % 2 * 100, 0, 0, 0]) for i in range(5)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "mv"])
    ).select("vec_id", F.col("mv").cast("array<long>").alias("mv"))
    got = kcenter_select(df, k=4).collect()
    ids = [r.vec_id for r in got]
    assert len(set(ids)) == 4
    # round 0 = lowest id, round 1 = the other pole, then zero-distance
    # fill-ins in id order
    by_round = {r.sel_round: r.vec_id for r in got}
    assert by_round[0] == 0 and by_round[1] == 1
    assert {by_round[2], by_round[3]} == {2, 3}


def test_append_to_ivf_index_carries_stored_metadata(spark, emb, tmp_path):
    """Appends to a carry_cols index must follow the STORED schema:
    appended rows keep the carried label, and a filtered probe over the
    appended index equals the same probe over a full rebuild."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
        append_to_ivf_index,
        build_ivf_index,
    )

    # day0 keeps the lowest ids so the frozen anchors equal the
    # rebuild's anchor pick (append ≡ rebuild needs the same anchors —
    # the existing equivalence test's precondition)
    day0 = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    appended = str(tmp_path / "appended")
    rebuilt = str(tmp_path / "rebuilt")
    build_ivf_index(
        day0, appended, n_anchors=4, max_bucket_size=20,
        carry_cols=("label",),
    )
    append_to_ivf_index(batch, spark, appended)
    build_ivf_index(
        emb, rebuilt, n_anchors=4, max_bucket_size=20,
        carry_cols=("label",),
    )
    # appended rows kept their label (no NULL holes)
    stored = spark.read.parquet(f"{appended}/assignments")
    assert stored.filter(F.col("label").isNull()).count() == 0
    queries = emb.filter(F.col("vec_id") < 5)
    pred = F.col("label") == 3
    a = ann_against_index(
        queries, spark, appended, k=5, nprobe=2, pre_filter=pred
    )
    b = ann_against_index(
        queries, spark, rebuilt, k=5, nprobe=2, pre_filter=pred
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_multiprobe_superset_and_recall_monotone(spark, emb):
    """Multi-probe candidates must be a strict SUPERSET of the
    single-bucket LSH run per query (the own-bucket probe is always
    included), so recall@10 vs brute force can only go up."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    single = _topk_sets(
        lsh_bucketed_topk(emb, queries, dim=64, k=10, n_planes=4)
    )
    multi = _topk_sets(
        multiprobe_lsh_topk(emb, queries, dim=64, k=10, n_planes=4)
    )
    exact = _topk_sets(cosine_topk(emb, queries, k=10))
    assert _recall(multi, exact) >= _recall(single, exact)
    # every query's multiprobe list is drawn from a candidate superset:
    # any single-bucket hit missing from the multiprobe TOP-10 can only
    # have been displaced by a better candidate, so the multiprobe
    # worst-kept cosine >= the single-bucket worst-kept cosine — checked
    # transitively by recall; additionally the probe fan-out must
    # include the identity bucket (same neighbors when no flip helps)
    for qid, s in single.items():
        assert multi.get(qid), f"query {qid} lost all neighbors"


@pytest.fixture(scope="module")
def vecs(spark):
    """12 deterministic 64-dim vectors (component = (i*7 + d) % 13 / 10)."""
    rows = [
        (i, [((i * 7 + d) % 13) / 10.0 for d in range(64)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def anchors(spark, vecs):
    return vecs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
    )


def test_ivf_probe_rank_union_property(spark, vecs, anchors):
    q = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    wide = ivf_probe(q, anchors, nprobe=4, probe_id_col="query_id",
                     keep_rank_col="pr")
    got4 = wide.select("query_id", "bucket", "pr").collect()
    # rank is 1..nprobe per query, all distinct buckets
    per_q: dict = {}
    for r in got4:
        per_q.setdefault(r.query_id, []).append((r.pr, r.bucket))
    for qid, lst in per_q.items():
        ranks = sorted(p for p, _ in lst)
        assert ranks == list(range(1, 5)), (qid, ranks)
        assert len({b for _, b in lst}) == len(lst), qid
    # filter rank <= p reproduces the nprobe=p probe exactly
    for p in (1, 2):
        narrow = {
            (r.query_id, r.bucket)
            for r in ivf_probe(
                q, anchors, nprobe=p, probe_id_col="query_id"
            ).select("query_id", "bucket").collect()
        }
        filtered = {
            (r.query_id, r.bucket) for r in got4 if r.pr <= p
        }
        assert narrow == filtered, p


def test_ivf_probe_default_has_no_rank_column(spark, vecs, anchors):
    q = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_probe(q, anchors, nprobe=2, probe_id_col="query_id")
    assert out.columns == ["query_id", "q_vec", "bucket"]


def test_pq_scored_pairs_exact_leg_is_brute_force(spark, vecs):
    queries = vecs.where(F.col("vec_id") < 2)
    pairs = pq_scored_pairs(vecs, queries).collect()
    mv = {
        r.vec_id: [round(x * 1_000_000) for x in r.embedding]
        for r in vecs.collect()
    }
    expect = {}
    for qid in (0, 1):
        for cid in mv:
            if cid == qid:
                continue
            expect[(qid, cid)] = sum(
                (a - b) ** 2 for a, b in zip(mv[qid], mv[cid])
            )
    got = {(r.qid, r.id): r.exact_dist for r in pairs}
    assert got == expect
    # every pair carries a non-null ADC distance
    assert all(r.approx_dist is not None for r in pairs)


def test_kmeans_assign_assigns_every_vector_within_k(spark, vecs):
    """kmeans_assign on the planted layout: every vector is assigned,
    ids are preserved and at most k clusters are used (the exact
    assignment is pinned against a Python mirror in test_properties)."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        kmeans_assign,
    )

    out = kmeans_assign(vecs, "vec_id", "embedding", k=2, iters=2, dim=64)
    rows = out.select("vec_id", "cluster_id").collect()
    # contract: every vector assigned, ids preserved, k respected
    assert {r.vec_id for r in rows} == set(range(12))
    assert {r.cluster_id for r in rows} <= {0, 1}


def test_pq_adc_topk_contract_unchanged(spark, vecs):
    out = pq_adc_topk(vecs, vecs.where(F.col("vec_id") < 2), k=3)
    rows = out.collect()
    assert out.columns == [
        "query_id", "vec_id", "rank", "approx_dist", "exact_dist"
    ]
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for qid, lst in per_q.items():
        assert sorted(r.rank for r in lst) == [1, 2, 3], qid
        # ranked by (approx_dist, id)
        srt = sorted(lst, key=lambda r: (r.approx_dist, r.vec_id))
        assert [r.rank for r in srt] == [1, 2, 3], qid


def test_ndcg_both_legs_end_in_partial_topk(spark, sf_dir):
    # exact and approx legs must both carry the WindowGroupLimit
    # partial top-k so the metric join sees ≤ 2·k·|queries| rows
    plan = formatted_plan(QUERIES["q_ndcg"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2
    assert "rangepartitioning" not in plan


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
    plan = formatted_plan(QUERIES["q_semdedup_scaled"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan


def test_semdedup_scaled_assign_is_materialized_artifact(spark, sf_dir):
    # the blocker assignment reads from the fingerprint-cached parquet
    # artifact (block once, prune repeatedly): the executed plan scans
    # the cache dir, and the in-query count aggregate of the BUILD is
    # absent (no Exchange SinglePartition from the 1-row count in the
    # consumer plan's scan of the artifact)
    plan = formatted_plan(QUERIES["q_semdedup_scaled"](spark, sf_dir))
    assert "semdedup_blocker_p16t128" in plan


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
    plan = formatted_plan(QUERIES["q_knn_hubness"](spark, sf_dir))
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


def _exact_l2_topk(spark, emb, k=10):
    """Brute-force exact integer-L2 top-k for the first-5 query batch —
    the ground truth every IVFPQ assertion compares against."""
    from pyspark.sql import Window

    from telecom_competitor_analysis_spark.operators.similarity import (
        l2sq_micro,
        micro_vec,
    )

    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.select("vec_id", micro_vec(F.col("embedding")).alias("mv"))
    qv = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            micro_vec(F.col("embedding")).alias("qmv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_dist", "vec_id")
    return (
        corpus.join(qv, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            l2sq_micro(F.col("mv"), F.col("qmv")).alias("exact_dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


@pytest.fixture(scope="module")
def ivfpq_idx(spark, emb, tmp_path_factory):
    from telecom_competitor_analysis_spark.operators.similarity import (
        build_ivfpq_index,
    )

    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    build_ivfpq_index(emb, path, n_anchors=8, max_bucket_size=50)
    return path


def test_ivfpq_full_probe_full_coarse_equals_exact(spark, emb, ivfpq_idx):
    """Degradation pin: nprobe = n_anchors probes every bucket and a
    corpus-sized coarse_k keeps every candidate, so the exact-refine
    top-10 must EQUAL brute-force exact integer-L2 top-10 — the
    composition loses exactly what bucket pruning + the coarse cut
    discard, nothing else."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    n = emb.count()
    queries = emb.where(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.exact_dist)
        for r in ivfpq_topk(
            queries, spark, ivfpq_idx, k=10, coarse_k=n, nprobe=8
        ).collect()
    }
    want = {
        (r.query_id, r.rn): (r.vec_id, r.exact_dist)
        for r in _exact_l2_topk(spark, emb, k=10).collect()
    }
    assert got == want


def test_ivfpq_refine_beats_or_matches_coarse(spark, emb, ivfpq_idx):
    """The refine stage re-ranks the SAME coarse-50 shortlist by exact
    distance, so refined-top-10 recall vs exact ground truth must be >=
    the recall of the raw ADC top-10 (quantization misranking inside
    the shortlist is exactly what refine repairs). Also pins the moved
    column arithmetic and per-query rank completeness."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    queries = emb.where(F.col("vec_id") < 5)
    rows = ivfpq_topk(
        queries, spark, ivfpq_idx, k=50, coarse_k=50, nprobe=2
    ).collect()
    exact = {}
    for r in _exact_l2_topk(spark, emb, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    refined10, adc10 = {}, {}
    for r in rows:
        assert r.moved == r.coarse_rank - r.rank
        if r.rank <= 10:
            refined10.setdefault(r.query_id, set()).add(r.neighbor_id)
        if r.coarse_rank <= 10:
            adc10.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, truth in exact.items():
        assert len(refined10[q]) == 10
        assert len(refined10[q] & truth) >= len(adc10[q] & truth)


def test_ivfpq_plan_prunes_partitions_and_columns(spark, emb, ivfpq_idx):
    """The 100 TB contract of the composition: (a) both index scans are
    dynamically partition-pruned by the broadcast probe/survivor join
    (DPP in the executed plan), and (b) the COARSE scan reads only
    (bucket, neighbor_id, codes) — the fat c_vec column stays on disk
    (column pruning), the on-disk analog of FAISS's codes-in-RAM /
    vectors-on-SSD split. Exactly one scan leg (the refine join-back)
    reads c_vec."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    queries = emb.where(F.col("vec_id") < 5)
    df = ivfpq_topk(queries, spark, ivfpq_idx, k=10, coarse_k=50, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one FileScan line per split segment; a scan subtree can appear
    # more than once in the text (broadcast build side + the DPP
    # subquery copy), so assert over the SET of distinct scan shapes
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan parquet")[1:]
        if "assignments" in seg.split("ReadSchema")[0]
    ]
    assert scans, "no assignments scan found in plan"
    assert all("dynamicpruningexpression" in s for s in scans)
    schemas = {s.split("ReadSchema:")[1] for s in scans}
    assert len(schemas) == 2
    coarse = next(s for s in schemas if "c_vec" not in s)
    refine = next(s for s in schemas if "c_vec" in s)
    assert "codes" in coarse and "codes" not in refine


def test_ivfpq_declared_queries_shape(spark, sf_dir):
    """q_ivfpq_ann / q_ivfpq_recall behavioral pins at the declared
    parameters (nprobe=2, coarse 50, k=10): full rank sets, exact_dist
    nondecreasing in rank, and the recall twin's integer convention."""
    ann = QUERIES["q_ivfpq_ann"](spark, sf_dir).collect()
    by_q = {}
    for r in ann:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 11))
        dists = [r.exact_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != q for r in rs)

    rec = QUERIES["q_ivfpq_recall"](spark, sf_dir).collect()
    assert {r.query_id for r in rec} == {0, 1, 2, 3, 4}
    for r in rec:
        assert 0 <= r.hits <= 10
        assert r.recall_micro == r.hits * 100_000


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

