"""End-to-end medallion pipeline main (SURVEY.md §3.1): bronze wrapped-JSON
→ silver cleaned NDJSON/parquet → gold star schema, the engine's version of
the reference's master DAG chain (reference dags/master_dag.py:22-39) with
the load loop replaced by the merge plans.

Runnable:  python -m telecom_competitor_analysis_spark.jobs.run_pipeline \
               --bronze <dir> --silver <dir> --gold <dir>

Each stage is restart-safe: silver is overwritten per run partition, gold
appends are idempotent anti-join/change-detect plans (re-running with the
same input appends nothing, and leaves the gold files as they were). Each
append is one pass: its row count comes from the write
(``sources.writers.write_gold``), not from a second ``count()`` job over
the same plan. A one-row status record goes to the logs table per run
(reference dags/utils.py:54-68): ``success``, or ``failed`` with the error
text when a stage raises.

The reference loads the star tables one after another; here a day's
appends (the four star tables, plus packs) are independent Spark jobs of
1-7 tasks each, so they run concurrently, one driver thread per append,
each keeping the caller's job group and local properties. Every append
still scans silver on its own: persisting silver for them was measured
not to pay (day 0 + day 1 at 10k products: 3.86 → 4.16 s on 4 cores),
overlapping them does (NOTES.md). ``run()`` returns, or logs a failed
append, only once every append has finished.
"""

from __future__ import annotations

import argparse
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from telecom_competitor_analysis_spark.jobs.clean import clean_products
from telecom_competitor_analysis_spark.jobs.load import (
    plan_pack_appends,
    plan_star_appends,
)
from telecom_competitor_analysis_spark.schemas import (
    CLEAN_PRODUCT,
    RAW_PACK,
    RAW_PRODUCT,
    STAR_SCHEMA,
)
from telecom_competitor_analysis_spark.sources.readers import read_wrapped_json
from telecom_competitor_analysis_spark.sources.writers import write_gold

_STAR_TABLES = ("competitors", "products", "features", "product_prices")


def _read_gold(spark: SparkSession, gold: str, table: str) -> DataFrame | None:
    path = f"{gold}/{table}"
    if not Path(path).exists():
        return None
    return spark.read.schema(STAR_SCHEMA[table]).parquet(path)


def _write_log(spark: SparkSession, gold: str, error_details: str, status: str) -> None:
    """Append the run's status row (reference dags/utils.py:54-68 /
    bigquery.py:160-172), built in the JVM as one partition: one file."""
    log = spark.range(1, numPartitions=1).select(
        F.lit("pipeline").alias("competitor_name"),
        F.lit(error_details).alias("error_details"),
        F.lit(status).alias("status"),
        F.date_format(F.current_date(), "yyyy-MM-dd").alias("scraped_at"),
    )
    write_gold(log.select(*STAR_SCHEMA["logs"].fieldNames()),
               f"{gold}/logs", mode="append")


def run(spark: SparkSession, bronze: str, silver: str, gold: str) -> dict[str, int]:
    """Run clean + load once over every bronze products/packs document.
    Returns appended-row counts per gold table. A failed run is logged
    as failed, with its error, and the error is re-raised."""
    try:
        counts = _load(spark, bronze, silver, gold)
    except Exception as exc:
        _write_log(spark, gold, f"{type(exc).__name__}: {exc}", "failed")
        raise
    _write_log(spark, gold, "no error", "success")
    return counts


def _load(spark: SparkSession, bronze: str, silver: str, gold: str) -> dict[str, int]:
    # explicit file lists, not globs: a glob read makes Spark probe it for
    # a streaming-sink metadata dir and log a stack trace at WARN
    product_files = _bronze_files(bronze, "products")
    if not product_files:
        raise FileNotFoundError(f"no *_products.json under {bronze}")
    raw_products = read_wrapped_json(spark, product_files, "products", RAW_PRODUCT)
    silver_products = clean_products(raw_products)
    # silver is the durable handoff (reference writes NDJSON; parquet here,
    # partitioned by scrape date for downstream pruning)
    silver_products.write.mode("overwrite").partitionBy("scraped_at").parquet(
        f"{silver}/products"
    )
    silver_products = spark.read.schema(CLEAN_PRODUCT).parquet(
        f"{silver}/products"
    )

    pack_files = _bronze_files(bronze, "packs")
    targets = _STAR_TABLES + (("packs",) if pack_files else ())
    existing = {t: _read_gold(spark, gold, t) for t in targets}
    appends = plan_star_appends(silver_products, existing)
    if pack_files:
        raw_packs = read_wrapped_json(spark, pack_files, "packs", RAW_PACK)
        appends["packs"] = plan_pack_appends(raw_packs, existing["packs"])

    # one small job per table, run side by side. The target is wrapped per
    # submit, so each thread gets its own copy of this thread's local
    # properties: the job group carries over, and concurrent writes do not
    # share one SQL execution id.
    with ThreadPoolExecutor(max_workers=len(appends)) as pool:
        futures = {
            table: pool.submit(inheritable_thread_target(spark)(write_gold),
                               rows, f"{gold}/{table}", mode="append")
            for table, rows in appends.items()
        }
    return {table: f.result() for table, f in futures.items()}


def _bronze_files(bronze: str, kind: str) -> list[str]:
    return sorted(str(p) for p in Path(bronze).glob(f"*_{kind}.json"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bronze", required=True)
    ap.add_argument("--silver", required=True)
    ap.add_argument("--gold", required=True)
    args = ap.parse_args()
    from telecom_competitor_analysis_spark.session import get_spark

    spark = get_spark(app_name="telecom_pipeline")
    counts = run(spark, args.bronze, args.silver, args.gold)
    print(counts)


if __name__ == "__main__":
    main()
