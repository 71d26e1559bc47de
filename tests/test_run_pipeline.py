"""Full medallion run over bronze fixture documents: first run populates
gold, re-run appends nothing (idempotent), day-2 bronze appends only the
true deltas. Exercises wrapped-JSON source → clean → merge → parquet gold
end-to-end on disk."""

from __future__ import annotations

import json
import shutil
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # end-to-end job/pipeline tier; fast tier is -m 'not slow'

from telecom_competitor_analysis_spark.jobs.run_pipeline import run
from telecom_competitor_analysis_spark.sources.writers import write_gold
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

    # gold is real parquet on disk, holding exactly the rows the
    # concurrent appends reported
    prices = spark.read.parquet(f"{dirs['gold']}/product_prices")
    assert prices.count() == 6
    for table in first:
        rows = spark.read.parquet(f"{dirs['gold']}/{table}").count()
        assert rows == sum(c[table] for c in (first, second, third)), table
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


def test_failed_append_reraises_after_the_others_finish(spark, dirs,
                                                      monkeypatch):
    from telecom_competitor_analysis_spark.jobs import run_pipeline

    real = run_pipeline.write_gold

    def features_fail(df, path, *args, **kwargs):
        if path.endswith("/features"):
            raise RuntimeError("features append exploded")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(run_pipeline, "write_gold", features_fail)
    _write_bronze(dirs["bronze"], DAY1)
    with pytest.raises(RuntimeError, match="features append exploded"):
        run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])

    gold = dirs["gold"]
    for table, n in {"competitors": 2, "products": 3,
                     "product_prices": 3}.items():
        assert spark.read.parquet(f"{gold}/{table}").count() == n, table
    assert not Path(f"{gold}/features").exists()
    logs = spark.read.parquet(f"{gold}/logs").collect()
    assert [(r.status, r.error_details) for r in logs] == [
        ("failed", "RuntimeError: features append exploded")
    ]


def _group_job(sc, group: str) -> int:
    """Run one job under `group`; its id, once the status store has it
    (listener events arrive in order, so every earlier job is there too)."""
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, f"job of {group} never seen"
        time.sleep(0.05)
    return ids[0]


def test_appends_run_in_the_callers_job_group(spark, dirs):
    sc = spark.sparkContext
    _write_bronze(dirs["bronze"], DAY1)
    try:
        first = _group_job(sc, "medallion-before")
        sc.setJobGroup("medallion-run", "medallion run")
        run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
        last = _group_job(sc, "medallion-after")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    in_group = set(sc.statusTracker().getJobIdsForGroup("medallion-run"))
    assert in_group and in_group == set(range(first + 1, last))


def _listing(path: str) -> list[str]:
    return sorted(str(p.relative_to(path)) for p in Path(path).rglob("*"))


def test_run_counts_appends_without_count_jobs(spark, dirs, monkeypatch):
    """Each append's count comes from its write: run() never calls
    DataFrame.count()."""
    def no_count(self):
        raise AssertionError("run() ran a count() job")

    monkeypatch.setattr(type(spark.range(0)), "count", no_count)
    _write_bronze(dirs["bronze"], DAY1)
    counts = run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert counts == {"competitors": 2, "products": 3, "features": 3,
                      "product_prices": 3}


def test_rerun_leaves_gold_files_untouched(spark, dirs):
    _write_bronze(dirs["bronze"], DAY1)
    run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    tables = [t.name for t in Path(dirs["gold"]).iterdir() if t.name != "logs"]
    assert sorted(tables) == ["competitors", "features", "product_prices",
                              "products"]
    before = {t: _listing(f"{dirs['gold']}/{t}") for t in tables}

    again = run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert set(again.values()) == {0}
    assert {t: _listing(f"{dirs['gold']}/{t}") for t in tables} == before


def test_one_log_file_per_run(spark, dirs):
    _write_bronze(dirs["bronze"], DAY1)
    run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    assert len(list(Path(f"{dirs['gold']}/logs").glob("part-*.parquet"))) == 1


def test_run_without_products_raises_and_logs_failed(spark, dirs):
    with pytest.raises(FileNotFoundError, match="_products.json"):
        run(spark, dirs["bronze"], dirs["silver"], dirs["gold"])
    logs = spark.read.parquet(f"{dirs['gold']}/logs").collect()
    assert [r.status for r in logs] == ["failed"]
    assert logs[0].error_details.startswith("FileNotFoundError: no ")


def test_write_gold_returns_rows_written(spark, tmp_path):
    df = spark.range(10).withColumn("part", F.col("id") % 3)
    assert write_gold(df, str(tmp_path / "flat")) == 10
    assert write_gold(df.filter("id < 4"), str(tmp_path / "flat")) == 4
    assert spark.read.parquet(str(tmp_path / "flat")).count() == 14
    assert write_gold(df, str(tmp_path / "parted"), partition_by=("part",)) == 10
    assert sorted(p.name for p in (tmp_path / "parted").glob("part=*")) == [
        "part=0", "part=1", "part=2"]


def test_empty_append_to_missing_table_creates_nothing(spark, tmp_path):
    empty = spark.range(10).filter("id < 0")
    assert write_gold(empty, str(tmp_path / "t")) == 0
    assert not (tmp_path / "t").exists()
    assert write_gold(empty.withColumn("part", F.lit(1)), str(tmp_path / "p"),
                      partition_by=("part",)) == 0
    assert not (tmp_path / "p").exists()


def test_empty_append_to_existing_table_adds_no_file(spark, tmp_path):
    path = str(tmp_path / "t")
    write_gold(spark.range(5), path)
    before = _listing(path)
    assert write_gold(spark.range(10).filter("id < 0"), path) == 0
    assert _listing(path) == before
    assert spark.read.parquet(path).count() == 5


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
