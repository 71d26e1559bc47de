"""End-to-end medallion pipeline main (SURVEY.md §3.1): bronze wrapped-JSON
→ silver cleaned NDJSON/parquet → gold star schema, the engine's version of
the reference's master DAG chain (reference dags/master_dag.py:22-39) with
the load loop replaced by the merge plans.

Runnable:  python -m telecom_competitor_analysis_spark.jobs.run_pipeline \
               --bronze <dir> --silver <dir> --gold <dir>

Each stage is restart-safe: silver is overwritten per run partition, gold
appends are idempotent anti-join/change-detect plans (re-running with the
same input appends nothing). A one-row status record goes to the logs
table per run (reference dags/utils.py:54-68): ``success``, or ``failed``
with the error text when a stage raises.
"""

from __future__ import annotations

import argparse
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.jobs.clean import clean_products
from telecom_competitor_analysis_spark.jobs.load import (
    plan_pack_appends,
    plan_star_appends,
)
from telecom_competitor_analysis_spark.schemas import (
    RAW_PACK,
    RAW_PRODUCT,
    STAR_SCHEMA,
)
from telecom_competitor_analysis_spark.sources.readers import read_wrapped_json
from telecom_competitor_analysis_spark.sources.writers import write_gold


def _read_gold(spark: SparkSession, gold: str, table: str) -> DataFrame | None:
    path = f"{gold}/{table}"
    if not Path(path).exists():
        return None
    return spark.read.schema(STAR_SCHEMA[table]).parquet(path)


def _write_log(spark: SparkSession, gold: str, error_details: str, status: str) -> None:
    """Append the run's status row (reference dags/utils.py:54-68 /
    bigquery.py:160-172)."""
    log = spark.createDataFrame(
        [("pipeline", error_details, status)],
        "competitor_name string, error_details string, status string",
    ).withColumn("scraped_at", F.date_format(F.current_date(), "yyyy-MM-dd"))
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
    counts: dict[str, int] = {}

    raw_products = read_wrapped_json(
        spark, f"{bronze}/*_products.json", "products", RAW_PRODUCT
    )
    silver_products = clean_products(raw_products)
    # silver is the durable handoff (reference writes NDJSON; parquet here,
    # partitioned by scrape date for downstream pruning)
    silver_products.write.mode("overwrite").partitionBy("scraped_at").parquet(
        f"{silver}/products"
    )
    silver_products = spark.read.parquet(f"{silver}/products")

    existing = {t: _read_gold(spark, gold, t) for t in STAR_SCHEMA}
    appends = plan_star_appends(silver_products, existing)
    for table, rows in appends.items():
        n = rows.count()
        counts[table] = n
        if n:
            write_gold(rows, f"{gold}/{table}", mode="append")

    pack_files = list(Path(bronze).glob("*_packs.json"))
    if pack_files:
        raw_packs = read_wrapped_json(
            spark, f"{bronze}/*_packs.json", "packs", RAW_PACK
        )
        new_packs = plan_pack_appends(raw_packs, _read_gold(spark, gold, "packs"))
        counts["packs"] = new_packs.count()
        if counts["packs"]:
            write_gold(new_packs, f"{gold}/packs", mode="append")
    return counts


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
