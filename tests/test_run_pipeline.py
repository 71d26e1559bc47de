"""Full medallion run over bronze fixture documents: first run populates
gold, re-run appends nothing (idempotent), day-2 bronze appends only the
true deltas. Exercises wrapped-JSON source → clean → merge → partitioned
parquet gold end-to-end on disk."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # end-to-end job/pipeline tier; fast tier is -m 'not slow'

from telecom_competitor_analysis_spark.jobs.run_pipeline import run
from tests.test_pipeline import DAY1, DAY2

COLS = [
    "product_name", "competitor_name", "product_category", "product_url",
    "price", "scraped_at", "data", "minutes", "sms", "upload_speed",
    "download_speed",
]


def _write_bronze(bronze: str, rows: list[tuple]) -> None:
    by_comp: dict[str, list[dict]] = {}
    for row in rows:
        rec = dict(zip(COLS, row))
        by_comp.setdefault(rec["competitor_name"], []).append(rec)
    for comp, recs in by_comp.items():
        with open(f"{bronze}/{comp}_products.json", "w") as f:
            json.dump({"products": recs}, f, indent=2)


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="medallion_")
    paths = {n: f"{root}/{n}" for n in ("bronze", "silver", "gold")}
    for p in paths.values():
        Path(p).mkdir()
    yield paths
    shutil.rmtree(root, ignore_errors=True)


def test_medallion_end_to_end(spark, dirs):
    _write_bronze(dirs["bronze"], DAY1)
    first = run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert first["products"] == 3 and first["features"] == 3
    assert first["product_prices"] == 3 and first["competitors"] == 2

    # idempotent: same bronze again → zero appends everywhere
    second = run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert all(v == 0 for k, v in second.items())

    # day 2: only true deltas append
    _write_bronze(dirs["bronze"], DAY2)
    third = run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert third["competitors"] == 0
    assert third["products"] == 1          # one brand-new product
    assert third["features"] == 2          # changed feature + new product
    assert third["product_prices"] == 3    # price change + new feature + new product

    # gold is real partitioned parquet on disk
    prices = spark.read.parquet(f"{dirs['gold']}/product_prices")
    assert prices.count() == 6
    logs = spark.read.parquet(f"{dirs['gold']}/logs")
    assert logs.filter("status = 'success'").count() == 3


def test_failed_run_is_logged_as_failed(spark, dirs, monkeypatch):
    from telecom_competitor_analysis_spark.jobs import run_pipeline

    def broken(*args, **kwargs):
        raise RuntimeError("merge exploded")

    monkeypatch.setattr(run_pipeline, "plan_star_appends", broken)
    _write_bronze(dirs["bronze"], DAY1)
    with pytest.raises(RuntimeError, match="merge exploded"):
        run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])

    logs = spark.read.parquet(f"{dirs['gold']}/logs").collect()
    assert [(r.status, r.error_details) for r in logs] == [
        ("failed", "RuntimeError: merge exploded")
    ]
    assert not Path(f"{dirs['gold']}/products").exists()


def test_build_indexes_job(spark, tmp_path):
    """The nightly index-build job materializes all four probe-side
    artifacts, each immediately consumable: the shingle index answers an
    incremental near-dup probe, the IVF index answers an ANN probe, the
    pair graph feeds cluster labeling, and the k-means assignment feeds
    SemDedup pruning."""
    from telecom_competitor_analysis_spark.jobs.build_indexes import build_all
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
        near_dups_against_index,
    )
    from telecom_competitor_analysis_spark.operators.similarity import (
        ann_against_index,
    )
    from telecom_competitor_analysis_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    paths = build_all(spark, sf, str(tmp_path / "idx"), n_anchors=4)

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    probe = near_dups_against_index(
        docs.limit(20), spark, paths["shingle_index"], "doc_id", "text"
    )
    assert probe.columns == ["id_a", "id_b", "n_shared", "n_a", "n_b", "jaccard"]
    probe.count()  # executes

    emb = load_table(spark, sf, "embeddings")
    ann = ann_against_index(
        emb.filter("vec_id < 3"), spark, paths["ivf_index"], k=5, nprobe=2
    )
    assert ann.count() > 0

    pairs = spark.read.parquet(paths["pair_graph"])
    clusters = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    assert clusters.count() == docs.count()

    # the cluster-once assignment table feeds SemDedup pruning directly
    # (clustering params are ignored on the assign= path; the corpus
    # drives only the coverage guard)
    import pytest

    from telecom_competitor_analysis_spark.operators.similarity import (
        semdedup_prune,
    )

    assign = spark.read.parquet(paths["kmeans_assign"])
    pruned = semdedup_prune(
        emb, "vec_id", "embedding", threshold=0.2, assign=assign
    )
    assert pruned.count() == emb.count()
    assert set(pruned.columns) == {"vec_id", "cluster_id", "kept"}

    # a STALE table (missing vectors the corpus gained since the build)
    # must fail the query loudly when the result is materialized, never
    # silently drop the new rows (collect, not count — a bare count()
    # column-prunes every projection including the guard)
    stale = assign.filter("vec_id != 0")
    with pytest.raises(Exception, match="does not cover"):
        semdedup_prune(
            emb, "vec_id", "embedding", threshold=0.2, assign=stale
        ).collect()
