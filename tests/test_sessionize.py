"""The custom stateful streaming sessionizer must agree with the
oracle-checked batch sessionization (q_sessionize) on a single-batch
stream: every session the batch form finds appears with identical
(user, idx, n_events) in the streaming output's final snapshots."""

from __future__ import annotations

import shutil
import tempfile


from telecom_competitor_analysis_spark.plans.streaming import q_sessionize
from telecom_competitor_analysis_spark.sources.readers import load_table
from telecom_competitor_analysis_spark.streaming.incremental import stream_events
from telecom_competitor_analysis_spark.streaming.sessionize import (
    sessionize_stream,
)


def test_stateful_sessionizer_matches_batch(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sess_")
    try:
        # subset of users: state-store overhead is per-group; 60 groups
        # exercise the same code paths at a third of the wall-clock
        load_table(spark, sf_dir, "events").filter(
            "user_id < 60"
        ).write.mode("overwrite").parquet(tmp)
        from pyspark.sql.streaming.state import GroupStateTimeout

        stream = sessionize_stream(
            stream_events(spark, tmp, fmt="parquet"),
            timeout_conf=GroupStateTimeout.NoTimeout,
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("sessions_stream")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()
        got = spark.table("sessions_stream")
        # one batch → every session appears exactly once (closed sessions
        # emitted at the gap, the trailing open session as closed=False)
        stream_sessions = {
            (r.user_id, r.session_idx): r.n_events for r in got.collect()
        }
        batch_sessions = {
            (r.user_id, r.session_idx): r.n_events
            for r in q_sessionize(spark, sf_dir)
            .filter("user_id < 60")
            .collect()
        }
        assert stream_sessions == batch_sessions
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
