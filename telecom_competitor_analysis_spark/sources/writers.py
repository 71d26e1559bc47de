"""Sinks & DDL (SURVEY.md §2.1 S5–S7, S9).

The reference writes pretty-JSON docs (reference dags/utils.py:12-19),
NDJSON (reference dags/utils.py:22-28) and streams rows into BigQuery
(reference dags/bigquery.py:100-122) with idempotent DDL
(reference dags/bigquery.py:9-50). Spark-first equivalents:

- gold tables are parquet. ``jobs.run_pipeline`` writes them
  unpartitioned; ``write_gold(partition_by=...)`` partitions by
  low-cardinality date/competitor columns for when partition pruning on
  ``scraped_at``/``competitor_name`` pays (at 100 TB it is the
  first-order win),
- append mode replaces streaming inserts; the merge layer (operators/merge)
  guarantees idempotency so append is safe,
- BigQuery ships as untested connector glue behind a flag (no GCP here).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S5/S6 — JSON / NDJSON sink. Spark's JSON writer is NDJSON per part
    file; ``single_file`` coalesces to 1 (only for tiny bronze docs —
    never at scale)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_gold(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "append",
) -> int:
    """S7 — warehouse sink as parquet; returns the number of rows written.

    The rows are counted by an ``Observation`` on the write itself, so the
    write is the only Spark action: callers never run a ``count()`` pass
    over the same plan first.

    An empty append leaves the table exactly as it was. Spark writes a
    schema-only part file even for zero rows, so on a zero-row append the
    files the write added are removed again, and a table the write created
    is removed whole (plain-filesystem cleanup, as in ``compact_gold``; it
    assumes one writer per table).

    ``partition_by=('scraped_at',)`` (or ('competitor_name','scraped_at'))
    gives partition pruning for the time-series queries the star schema
    exists for (reference README.md:28: price evolution analysis).
    """
    existed = os.path.exists(path)
    before = _files(path)
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    n = obs.get["n"]
    if n == 0 and mode == "append":
        if existed:
            for added in _files(path) - before:
                os.remove(added)
        else:
            shutil.rmtree(path)
    return n


def _files(path: str) -> set[str]:
    """Every file below ``path`` (empty if it is missing)."""
    return {os.path.join(root, name)
            for root, _, names in os.walk(path) for name in names}


def write_bigquery(
    df: DataFrame, table: str, mode: str = "append", enabled: bool = False
) -> None:
    """S7 — BigQuery sink via the public spark-bigquery-connector
    (replaces reference dags/bigquery.py:100-122 ``insert_rows``).
    Disabled by default: no GCP credentials in this environment, parquet is
    the tested gold sink (SURVEY.md §7.3)."""
    if not enabled:
        raise RuntimeError(
            "BigQuery sink disabled in this environment; use write_gold()"
        )
    df.write.format("bigquery").option("table", table).mode(mode).save()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-bucketed by join/agg key).

    The co-location contract at scale: two tables bucketed on the same key
    with the same bucket count join WITHOUT a shuffle (SortMergeJoin reads
    matching buckets directly), and groupBy on the bucket key skips the
    exchange. For repeatedly-joined fact tables this converts the dominant
    per-query shuffle into a one-time write-side cost.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int = 8,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on the
    cluster column + ``sortWithinPartitions`` before the write, so each
    output file covers a DISJOINT value range and every row group inside
    is ordered.

    This is the data-layout lever for 100 TB scans (the single-column
    special case of Z-ordering): parquet stores per-row-group min/max
    stats, so a range predicate on the cluster column prunes whole files
    and row groups at planning/scan time instead of reading and
    filtering. Hash bucketing (``write_bucketed``) optimizes JOINS on
    the key; range clustering optimizes RANGE SCANS — time ranges, id
    ranges, price bands. RangePartitioner samples with a deterministic
    partition-seeded XORShift, so the layout is stable run-over-run for
    the same input.

    File-level disjointness is asserted from the written parquet footers
    in tests (tests/test_formats.py) — the claim is checked against the
    actual artifact, not the plan."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col, *sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def compact_gold(
    spark: "SparkSession",
    path: str,
    target_files: int = 8,
) -> None:
    """Small-file compaction for an append-heavy gold table: incremental
    anti-join appends produce one small file set per run; periodic
    compaction rewrites the table at a sane file count (read → repartition
    → overwrite-via-staging, swapped in via renames).

    Crash safety: a full copy of the data always exists on disk — either
    the live table at ``path``, or (between the two renames) the original
    at ``path__old``. A crash in that window leaves ``path`` briefly
    missing for readers until the next call runs the recovery below, which
    renames ``path__old`` back before compacting. This is plain-filesystem
    compaction: no data is ever lost, but the rename window is
    reader-visible — concurrent readers need a table format with atomic
    commit (Delta/Iceberg), not directory swaps.

    At cluster scale the same pattern runs per partition directory with
    ``target_files`` derived from bytes/128MB.
    """
    staging = f"{path}__compacting"
    old = f"{path}__old"
    # Recovery from a previous crash between the two renames: the original
    # table survives at `path__old` while `path` is missing — restore it
    # before compacting. (If `path` exists, any leftover `path__old` is a
    # completed swap whose cleanup died; it is deleted below as before.)
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    df = spark.read.parquet(path)
    df.repartition(target_files).write.mode("overwrite").parquet(staging)
    # Swap via two renames, never delete-then-move: a crash mid-sequence
    # leaves either the original table live (before the first rename) or
    # the full old copy at `path__old` for recovery (between renames) —
    # the data is never truncated the way rmtree-then-move could leave it.
    # The delete happens only after the new data is in place.
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


def append_to_catalog_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    keys: tuple[str, ...] = (),
) -> int:
    """S7 — warehouse sink through the session catalog: the *testable*
    stand-in for the BigQuery leg (reference dags/bigquery.py:100-122
    ``insert_rows`` + dags/bigquery.py:9-50 ``create_table_if_not_exist``).
    Identical semantics, catalog instead of GCP: idempotent table
    creation, then an insert-only-new append gated by the merge layer's
    anti-join when ``keys`` are given — re-running the same load is a
    no-op, exactly the reference's re-run guarantee.

    Returns the number of rows appended. The anti-join reads the target
    table, so the delta is localCheckpoint'ed to sever lineage before the
    insert (self-referencing insert guard); at cluster scale the same
    plan stages the delta to a temp location instead."""
    from telecom_competitor_analysis_spark.operators.merge import anti_join_new

    if not spark.catalog.tableExists(name):
        df.limit(0).write.saveAsTable(name)
    delta = (
        anti_join_new(df, spark.table(name), list(keys)) if keys else df
    ).localCheckpoint(eager=True)
    n = delta.count()
    if n:
        # insertInto resolves columns by POSITION — realign to the target
        # table's order so a caller with reordered columns cannot write
        # misaligned values
        delta.select(*spark.table(name).columns).write.mode(
            "append"
        ).insertInto(name)
    return n


def create_table_if_not_exists(
    spark: SparkSession, name: str, ddl_columns: str, location: str | None = None
) -> None:
    """S9 — idempotent DDL (reference dags/bigquery.py:29-50
    ``create_table_if_not_exist``), via the catalog instead of hand-rolled
    existence checks."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl_columns}) USING parquet{loc}"
    )
