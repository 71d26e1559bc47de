"""Stream-stream interval join (SURVEY.md §2.9 extension — the reference
has no streaming at all; its closest shape is the per-run probe loop in
reference dags/bigquery.py:125-157 re-matching new rows against existing).

Click-attribution shape: every purchase joins the same user's clicks in
the preceding ``horizon`` — the canonical watermarked stream-stream inner
join. Both sides carry a watermark and the join condition bounds the
event-time distance, so Spark can evict buffered rows once the watermark
passes the horizon: state per side is O(rate × (watermark + horizon)),
never the whole history.

Batch twin: ``plans.streaming.q_stream_join`` runs the identical join
condition as a plain DataFrame plan and is DuckDB-oracle-checked; the
streaming form below is checkpoint/restart-tested against it
(tests/test_stream_join.py), the same batch-is-the-oracle pattern as
q_tumbling_window / q_sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def click_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    watermark: str = "1 hour",
    horizon: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: purchases ⋈ same-user clicks
    with ``c_ts`` in ``[p_ts - horizon, p_ts]``.

    ``how="leftOuter"`` keeps unattributed purchases (null click) — the
    streaming-outer-join subtlety: the null row for a purchase is only
    EMITTED once the watermark passes ``p_ts`` (no earlier click can
    still arrive); in a bounded ``availableNow`` run that means a
    watermark-advancing later event must exist or trailing unmatched
    purchases stay buffered at termination (pinned by
    tests/test_stream_join.py).

    Inputs must carry the renamed columns (purchase side: purchase_id,
    user_id, p_ts; click side: click_id, c_user_id, c_ts) — renaming
    before the join keeps the two event-time columns distinct, which the
    state manager requires. Works identically on batch DataFrames (the
    oracle path) and streaming ones."""
    if how not in ("inner", "leftOuter"):
        raise ValueError(
            "click_attribution_join supports how='inner'|'leftOuter', "
            f"got {how!r}"
        )
    p = purchases.withWatermark("p_ts", watermark)
    c = clicks.withWatermark("c_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(c, cond, how).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
        ).cast("long").alias("secs_before"),
    )
