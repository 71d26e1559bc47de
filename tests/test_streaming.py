"""Streaming ≡ batch equivalence: run the streaming pipeline with
availableNow over a static copy of events and compare against the batch
twin. Also: streaming dedup drops duplicate arrivals, and the foreachBatch
star merge reproduces the batch merge decisions."""

from __future__ import annotations

import shutil
import tempfile

import pytest

pytestmark = pytest.mark.slow  # full-run default; excluded by the -m 'not slow' fast tier

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.sources.readers import load_table
from telecom_competitor_analysis_spark.streaming.incremental import (
    hopping_event_stats,
    stream_events,
    streaming_dedup,
    tumbling_event_stats,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Events written as a plain parquet dir (streaming file source needs a
    directory, and the testdata nanos timestamps need the load_table fix)."""
    tmp = tempfile.mkdtemp(prefix="stream_events_")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _run_to_memory(spark, streaming_df, name, output_mode):
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_stats_stream_equals_batch(spark, sf_dir, events_dir):
    stream = tumbling_event_stats(
        stream_events(spark, events_dir, fmt="parquet")
    )
    # complete mode: append mode would (correctly) withhold the trailing
    # windows still open under the watermark at end-of-stream
    got = _run_to_memory(spark, stream, "stream_stats", "complete").select(
        "day", "n_events", "min_value", "max_value"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "n_events",
            "min_value",
            "max_value",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_hopping_stats_stream_equals_batch(spark, sf_dir, events_dir):
    # overlapping windows: streaming availableNow over the same rows must
    # reproduce the batch q_hopping_window aggregates exactly
    from telecom_competitor_analysis_spark.plans.streaming import (
        q_hopping_window,
    )

    stream = hopping_event_stats(
        stream_events(spark, events_dir, fmt="parquet")
    )
    got = _run_to_memory(spark, stream, "hopping_stats", "complete")
    batch = q_hopping_window(spark, sf_dir).select(
        "window_start", "n_events", "min_value", "max_value"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_checkpoint_recovery_exactly_once(spark, events_dir):
    """Exactly-once across restarts: two runs sharing a checkpoint process
    each input file exactly once — the streaming form of the reference's
    idempotent re-runs (batch polling, SURVEY.md §2.9)."""
    src_dir = tempfile.mkdtemp(prefix="ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    out = tempfile.mkdtemp(prefix="ckpt_out_")
    try:
        full = spark.read.parquet(events_dir)
        first_half = full.filter("event_id % 2 = 0")
        second_half = full.filter("event_id % 2 = 1")
        first_half.write.mode("append").parquet(src_dir)

        def run_once():
            q = (
                stream_events(spark, src_dir, fmt="parquet")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        assert spark.read.parquet(out).count() == first_half.count()

        # "restart": new files arrive, same checkpoint → only deltas process
        second_half.write.mode("append").parquet(src_dir)
        run_once()
        got = spark.read.parquet(out)
        assert got.count() == full.count()
        assert got.select("event_id").distinct().count() == full.count()
    finally:
        for d in (src_dir, ckpt, out):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join(spark, sf_dir, events_dir):
    """Stream-stream inner join with watermarks + interval bound
    (purchase ⋈ clicks within the preceding hour, per user) must produce
    exactly the batch join's pairs on a bounded input."""
    from pyspark.sql import functions as F

    ev = lambda: stream_events(spark, events_dir, fmt="parquet")  # noqa: E731
    purchases = (
        ev()
        .filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev()
        .filter("event_type = 'click'")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id")
    got = _run_to_memory(spark, joined, "ss_join", "append")

    batch_events = spark.read.parquet(events_dir)
    bp = batch_events.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    bc = batch_events.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    want = bp.join(
        bc,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_drops_duplicates(spark, events_dir):
    """Write the same events twice (simulating a re-delivered batch) —
    dedup on event_id must emit each exactly once."""
    tmp = tempfile.mkdtemp(prefix="stream_dup_")
    try:
        src = spark.read.parquet(events_dir)
        src.write.mode("append").parquet(tmp)
        src.write.mode("append").parquet(tmp)
        deduped = streaming_dedup(stream_events(spark, tmp, fmt="parquet"))
        got = _run_to_memory(spark, deduped, "stream_dedup", "append")
        assert got.count() == src.count()
        assert got.select("event_id").distinct().count() == src.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_python_stream_source_offsets_resume_across_restart(spark):
    """The Spark 4 streaming Python DataSource (sources/pyds_stream.py):
    Trigger.Once runs exactly one batch; a SECOND query on the same
    checkpoint must resume from the persisted offset — rows 0..N-1 then
    N..2N-1, no gaps, no duplicates. Replay via readBetweenOffsets must
    regenerate identical rows."""
    from telecom_competitor_analysis_spark.sources.pyds_stream import (
        SyntheticEventsDataSource,
        SyntheticEventsStreamReader,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    root = tempfile.mkdtemp(prefix="pyds_stream_")
    ckpt, out = f"{root}/ckpt", f"{root}/out"
    try:
        def run_one_batch():
            q = (
                spark.readStream.format("synthetic_events")
                .option("rowsPerBatch", "7")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(once=True)
                .start()
            )
            q.awaitTermination(120)
            return sorted(
                r.event_id for r in spark.read.parquet(out).collect()
            )

        assert run_one_batch() == list(range(0, 7))
        # second query, same checkpoint: resumes from the persisted
        # offset — appends 7..13, no gaps, no duplicates
        assert run_one_batch() == list(range(0, 14))

        # deterministic replay contract
        rdr = SyntheticEventsStreamReader({"rowsPerBatch": "7"})
        replay = list(rdr.readBetweenOffsets({"offset": 0}, {"offset": 7}))
        live, _ = rdr.read({"offset": 0})
        assert replay == list(live)
        assert [r[0] for r in replay] == list(range(0, 7))
        assert all(r[2] == r[0] % 5 for r in replay)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_python_stream_source_feeds_windowed_agg(spark):
    """End-to-end: a watermarked tumbling-window aggregate OVER the
    synthetic Python stream source across two Trigger.Once rounds must
    equal the batch aggregate over the same deterministic rows —
    streaming ≡ batch holds through the extension-point source too."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F2

    from telecom_competitor_analysis_spark.sources.pyds_stream import (
        _BASE_EPOCH,
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    root = tempfile.mkdtemp(prefix="pyds_agg_")
    ckpt, out = f"{root}/ckpt", f"{root}/out"
    try:
        def agg(df):
            return (
                df.withWatermark("ts", "10 seconds")
                .groupBy(
                    F2.window("ts", "60 seconds").alias("w"),
                    "user_id",
                )
                .agg(
                    F2.count(F2.lit(1)).alias("n"),
                    F2.round(F2.sum("value"), 2).alias("sum_v"),
                )
                .select(
                    F2.date_format("w.start", "HH:mm:ss").alias("w0"),
                    "user_id",
                    "n",
                    "sum_v",
                )
            )

        for _ in range(2):  # two micro-batches: rows 0..119 then 120..239
            q = (
                agg(
                    spark.readStream.format("synthetic_events")
                    .option("rowsPerBatch", "120")
                    .load()
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(once=True)
                .start()
            )
            q.awaitTermination(120)

        got = {
            (r.w0, r.user_id): (r.n, r.sum_v)
            for r in spark.read.parquet(out).collect()
        }
        rows = [
            (
                i,
                datetime.fromtimestamp(_BASE_EPOCH + i, tz=timezone.utc),
                i % 5,
                float(i % 100),
            )
            for i in range(240)
        ]
        batch = agg(
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, value double"
            )
        )
        want = {
            (r.w0, r.user_id): (r.n, r.sum_v) for r in batch.collect()
        }
        # append mode withholds windows still open under the watermark
        # at end-of-stream: everything EMITTED must match batch, and the
        # emitted set must be non-trivial (the closed early windows)
        assert len(got) > 0
        assert all(got[k] == want[k] for k in got)
    finally:
        shutil.rmtree(root, ignore_errors=True)
