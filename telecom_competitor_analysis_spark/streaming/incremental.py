"""Incremental processing as Structured Streaming (SURVEY.md §2.9).

The reference has no streaming engine — incrementality is Airflow
re-running the DAG with the anti-join/change-detect loads making the
append idempotent (reference dags/master_dag.py:22-39 +
dags/bigquery.py:125-157,294-326). The Spark-idiomatic form of the same
semantics:

- a file stream over the cleaned silver directory
  (``readStream`` — each new NDJSON/parquet drop is a micro-batch; the
  "daily re-run" becomes continuous arrival),
- J2 insert-if-absent → ``withWatermark`` + ``dropDuplicates`` keyed on
  the business key (state-store dedup with bounded state),
- J5 change-detection merge → ``foreachBatch`` running the exact batch
  merge plan (jobs/load.plan_star_appends) against the gold tables —
  identical semantics in batch and streaming by construction,
- tumbling-window stats with a watermark for late data.

At scale: watermarks bound the dedup/agg state stores; ``foreachBatch``
keeps the merge a normal batch plan (broadcast dims, key-partitioned
shuffles) per micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """File-source stream over an events directory (schema-enforced — no
    inference on streams)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    return reader.parquet(path) if fmt == "parquet" else reader.json(path)


def streaming_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 day"
) -> DataFrame:
    """J2 (insert-if-absent) as streaming dedup with *bounded* state.

    ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``: with plain
    ``dropDuplicates(keys)`` the event-time column is not part of the
    dedup subset, so Spark never evicts dedup state — every key ever seen
    is retained and the state store grows without bound. The
    within-watermark variant keeps key-only dedup semantics (duplicates
    arriving within the watermark horizon are dropped) while letting the
    watermark expire state for keys older than the horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def tumbling_event_stats(
    events: DataFrame, watermark: str = "1 day", window: str = "1 day"
) -> DataFrame:
    """Tumbling-window stats with late-data handling — the streaming twin
    of plans.streaming.q_tumbling_window (same aggregates, same windows; the
    batch query is the oracle-checked semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "approx_users",
            "min_value",
            "max_value",
        )
    )


def hopping_event_stats(
    events: DataFrame,
    watermark: str = "1 day",
    window: str = "12 hours",
    slide: str = "6 hours",
) -> DataFrame:
    """Hopping (sliding) window stats — the streaming twin of
    plans.streaming.q_hopping_window (same overlapping windows, same
    aggregates; the batch query is the oracle-checked semantics). Each
    event contributes to window/slide overlapping windows; watermark
    bounds how long an open window's state is retained."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "n_events",
            "min_value",
            "max_value",
        )
    )


def foreach_batch_star_merge(
    existing_provider: Callable[[SparkSession], dict[str, DataFrame | None]],
    append_writer: Callable[[str, DataFrame], None],
) -> Callable[[DataFrame, int], None]:
    """J5 change-detection merge under streaming: each micro-batch runs
    the exact batch merge plan (jobs/load.plan_star_appends), so batch and
    streaming semantics cannot drift. The appends run one after another
    (unlike ``jobs.run_pipeline``): ``append_writer`` need not be
    thread-safe."""
    from telecom_competitor_analysis_spark.jobs.load import plan_star_appends

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        appends = plan_star_appends(batch_df, existing_provider(spark))
        for table, rows in appends.items():
            append_writer(table, rows)

    return merge
