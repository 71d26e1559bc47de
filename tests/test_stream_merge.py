"""Streaming star merge end-to-end: silver product files arrive as a
stream; foreachBatch runs the batch merge plan against gold parquet with
a checkpoint across restarts. Day-2 arrival appends only the true deltas
— the streaming twin of tests/test_run_pipeline.py."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # full-run default; excluded by the -m 'not slow' fast tier

from telecom_competitor_analysis_spark.jobs.clean import clean_products
from telecom_competitor_analysis_spark.schemas import CLEAN_PRODUCT, STAR_SCHEMA
from telecom_competitor_analysis_spark.sources.writers import write_gold
from telecom_competitor_analysis_spark.streaming.incremental import (
    foreach_batch_star_merge,
)
from telecom_competitor_analysis_spark.schemas import RAW_PRODUCT
from tests.test_pipeline import DAY1, DAY2


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="stream_merge_")
    paths = {n: f"{root}/{n}" for n in ("silver", "gold", "ckpt")}
    for p in paths.values():
        Path(p).mkdir()
    yield paths
    shutil.rmtree(root, ignore_errors=True)


def _star_tables():
    return ("competitors", "products", "features", "product_prices")


def test_streaming_star_merge_incremental(spark, dirs):
    def write_day(rows):
        clean_products(
            spark.createDataFrame(rows, RAW_PRODUCT)
        ).write.mode("append").parquet(dirs["silver"])

    def existing_provider(s):
        out = {}
        for t in _star_tables():
            path = f"{dirs['gold']}/{t}"
            out[t] = (
                s.read.schema(STAR_SCHEMA[t]).parquet(path)
                if Path(path).exists()
                else None
            )
        return out

    def append_writer(table, rows):
        write_gold(rows, f"{dirs['gold']}/{table}", mode="append")

    def run_stream_once():
        stream = (
            spark.readStream.schema(CLEAN_PRODUCT).parquet(dirs["silver"])
        )
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_star_merge(existing_provider, append_writer)
            )
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_day(DAY1)
    run_stream_once()
    assert spark.read.parquet(f"{dirs['gold']}/product_prices").count() == 3
    assert spark.read.parquet(f"{dirs['gold']}/competitors").count() == 2

    # restart with new silver files: checkpoint skips day-1, merge appends
    # only day-2 deltas (1 new product, 2 features, 3 prices — see
    # tests/test_pipeline.py for the delta accounting)
    write_day(DAY2)
    run_stream_once()
    assert spark.read.parquet(f"{dirs['gold']}/products").count() == 3 + 1
    assert spark.read.parquet(f"{dirs['gold']}/features").count() == 3 + 2
    assert spark.read.parquet(f"{dirs['gold']}/product_prices").count() == 3 + 3


def test_python_stream_source_drives_star_merge_across_restart(spark, dirs):
    """The reference's load semantics (J2 anti-join insert / J5 change
    detection) end-to-end over the PYTHON streaming source: two
    Trigger.Once rounds (each a fresh query object — a genuine restart
    against the shared checkpoint) where day-1 loads the full catalog
    and day-2 appends ONLY product 0's price change. Offsets live in
    the checkpoint, so the restarted query resumes at day 2 without
    re-merging day 1."""
    from telecom_competitor_analysis_spark.sources.pyds_stream import (
        SyntheticProductsDataSource,
    )

    spark.dataSource.register(SyntheticProductsDataSource)

    def existing_provider(s):
        out = {}
        for t in _star_tables():
            path = f"{dirs['gold']}/{t}"
            out[t] = (
                s.read.schema(STAR_SCHEMA[t]).parquet(path)
                if Path(path).exists()
                else None
            )
        return out

    def append_writer(table, rows):
        write_gold(rows, f"{dirs['gold']}/{table}", mode="append")

    def run_stream_once():
        stream = clean_products(
            spark.readStream.format("synthetic_products").load()
        )
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_star_merge(existing_provider, append_writer)
            )
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(180)

    # day 1: full catalog lands (4 products over 2 competitors)
    run_stream_once()
    assert spark.read.parquet(f"{dirs['gold']}/competitors").count() == 2
    assert spark.read.parquet(f"{dirs['gold']}/products").count() == 4
    assert spark.read.parquet(f"{dirs['gold']}/features").count() == 4
    assert spark.read.parquet(f"{dirs['gold']}/product_prices").count() == 4

    # day 2 after restart: the only delta is plan_0's price bump —
    # exactly one new price row, nothing else re-inserted
    run_stream_once()
    assert spark.read.parquet(f"{dirs['gold']}/competitors").count() == 2
    assert spark.read.parquet(f"{dirs['gold']}/products").count() == 4
    assert spark.read.parquet(f"{dirs['gold']}/features").count() == 4
    prices = spark.read.parquet(f"{dirs['gold']}/product_prices")
    assert prices.count() == 5
    # the appended row is plan_0's new 12.0 price stamped 2023-11-02
    day2 = prices.filter("scraped_at = DATE'2023-11-02'").collect()
    assert len(day2) == 1 and day2[0].price == 12.0
