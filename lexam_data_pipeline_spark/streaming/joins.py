"""Stream-stream attribution join: purchases matched to the same user's
prior views within an attribution window, as a native Structured
Streaming stream-stream inner join.

This is the one streaming shape `foreachBatch` maintainers cannot
express: BOTH sides arrive incrementally, and a match may pair a row
from trigger N with a row from trigger N+k.  Spark's stream-stream join
buffers each side in state; the event-time range condition plus the
watermarks bound that state — a view older than (watermark, max_lag) can
never match a future purchase and is evicted.  Without the time-range
condition the state grows forever; with it, state ≈ rate × (watermark +
max_lag) per side regardless of total stream length.  (Public
reference: Spark Structured Streaming programming guide, "Stream-Stream
Joins" / "Inner Joins with optional Watermarking".)

The builder takes plain DataFrames, so the SAME function drives the
streaming query and its batch twin — tests drain micro-batched splits
and compare row-identical results against the batch join
(tests/test_streaming_joins.py).

Batch counterpart for lake-side attribution at scale:
``operators.temporal.range_join_binned`` (bin-blocked equi join, used by
``q_range_join_events``) — prefer it for backfills; this module is for
the live path.

100 TB posture: the join keys on ``user_id``, so both sides shuffle by
user once and match locally; inner-join results emit eagerly (watermark
only gates state eviction, not emission), so latency is per-trigger,
not per-watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: purchases more than this long after a view are not attributed
DEFAULT_MAX_LAG = "2 hours"
#: how late either stream's events may arrive (state-eviction bound)
DEFAULT_WATERMARK = "1 hour"


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    max_lag: str = DEFAULT_MAX_LAG,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Each purchase paired with EVERY view by the same user in the
    ``max_lag`` window before it (multi-touch attribution; roll up
    downstream for first/last-touch).

    Both inputs need ``event_id, ts, user_id, value`` columns.  When the
    inputs are streaming DataFrames the watermarks bound the join state;
    on batch DataFrames ``withWatermark`` is a no-op and the result is
    the plain range join (the property the tests exploit).
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_lag}")),
        "inner",
    ).select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts", "purchase_value")


def start_attribution_stream(
    events: DataFrame,
    sink_table: str,
    max_lag: str = DEFAULT_MAX_LAG,
    watermark: str = DEFAULT_WATERMARK,
):
    """Split one raw event stream into view/purchase legs, join them,
    and append matches to an in-memory sink table (tests) — swap the
    format for a lake sink in production.  Drains the available input
    and stops (streaming/state.py, Triggers).  Returns the
    StreamingQuery."""
    views = events.filter(F.col("event_type") == "view")
    purchases = events.filter(F.col("event_type") == "purchase")
    joined = attribution_join(views, purchases, max_lag, watermark)
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )
