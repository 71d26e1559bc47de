"""Load stage — silver products → gold star-schema appends
(reference dags/bigquery.py:223-333 ``load_products_to_bq`` and
:125-157 ``load_packs_to_bq``).

The reference's load is a per-record loop of warehouse point queries
(N+1 round trips) with in-memory compares; this module computes the exact
same append decisions as four declarative plans — one per table — each a
single key-partitioned shuffle (SURVEY.md §3.4):

- competitors: anti-join on competitor_name (insert-if-absent),
- products: anti-join on (competitor_uuid, product_name)
  (reference dags/bigquery.py:281-292),
- features: change-detection vs the stored baseline per product_uuid
  (reference dags/bigquery.py:294-308),
- product_prices: change-detection per feature_uuid
  (reference dags/bigquery.py:314-326),
- packs: anti-join on (competitor_name, pack_name)
  (reference dags/bigquery.py:125-157),
- logs: plain append (reference dags/bigquery.py:160-172).

The double-load hazard of the reference (packs/logs loaded both
recursively and by the DAG, reference dags/bigquery.py:269-270 vs
dags/load_to_bigquery_dag.py:158-184) is structurally gone: one
idempotent anti-join append per table.

``use_latest`` keeps the intended latest-per-key semantics by default;
``use_latest=False`` reproduces the reference's earliest-per-key quirk
(ascending ORDER BY + LIMIT 1, reference dags/bigquery.py:295,315) for
bug-compat tests (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.merge import (
    anti_join_new,
    changed_records,
)
from telecom_competitor_analysis_spark.operators.star import star_split

# columns compared by is_different_record, minus its ignore-lists
# (scraped_at + uuid columns, reference dags/bigquery.py:303,323)
FEATURE_COMPARE_COLS = (
    "product_name",
    "product_url",
    "data",
    "minutes",
    "sms",
    "upload_speed",
    "download_speed",
)
PRICE_COMPARE_COLS = ("price",)


def plan_star_appends(
    clean_products: DataFrame,
    existing: dict[str, DataFrame | None],
    use_latest: bool = True,
) -> dict[str, DataFrame]:
    """Compute the rows to append to each gold table, given the current
    warehouse state (``existing[table]`` may be None on first load).

    Returns {table: DataFrame-of-new-rows}; the caller appends them via
    sources.writers.write_gold, which runs each plan once and returns its
    row count (idempotent by construction — re-running with unchanged
    input appends nothing and leaves the table's files as they were).
    """
    split = star_split(clean_products)
    new_products, new_features, new_prices = (
        split["products"],
        split["features"],
        split["product_prices"],
    )

    out: dict[str, DataFrame] = {}

    # competitors dim: insert-if-absent by name
    new_competitors = (
        new_products.select("competitor_uuid", "competitor_name")
        .dropDuplicates(["competitor_uuid"])
        .withColumn("created_at", F.current_timestamp())
    )
    existing_comp = existing.get("competitors")
    out["competitors"] = (
        anti_join_new(new_competitors, existing_comp, ["competitor_name"])
        if existing_comp is not None
        else new_competitors
    )

    # products dim: insert-if-absent by (competitor_uuid, product_name)
    # (reference dags/bigquery.py:281-292)
    dedup_products = new_products.dropDuplicates(
        ["competitor_uuid", "product_name"]
    )
    existing_prod = existing.get("products")
    out["products"] = (
        anti_join_new(
            dedup_products, existing_prod, ["competitor_uuid", "product_name"]
        )
        if existing_prod is not None
        else dedup_products
    )

    # features SCD: append when changed vs stored baseline per product_uuid
    existing_feat = existing.get("features")
    if existing_feat is None:
        out["features"] = new_features
    else:
        out["features"] = changed_records(
            new_features,
            existing_feat,
            keys=["product_uuid"],
            order_col="scraped_at",
            compare_cols=list(FEATURE_COMPARE_COLS),
            use_latest=use_latest,
            tie_breakers=["feature_uuid"],
        )

    # prices SCD: append when price changed per feature_uuid
    existing_price = existing.get("product_prices")
    if existing_price is None:
        out["product_prices"] = new_prices
    else:
        out["product_prices"] = changed_records(
            new_prices,
            existing_price,
            keys=["feature_uuid"],
            order_col="scraped_at",
            compare_cols=list(PRICE_COMPARE_COLS),
            use_latest=use_latest,
            tie_breakers=["price_uuid"],
        )

    return out


def plan_pack_appends(
    new_packs: DataFrame, existing_packs: DataFrame | None
) -> DataFrame:
    """Packs: insert-if-absent by (competitor_name, pack_name)
    (reference dags/bigquery.py:125-157 — N point probes → one anti-join)."""
    if existing_packs is None:
        return new_packs
    return anti_join_new(new_packs, existing_packs, ["competitor_name", "pack_name"])
