"""Stream-stream joins with watermarked time bounds.

Both sides buffer in the state store; the time-range predicate plus
watermarks let the engine evict state once no future match is possible —
the property that makes an unbounded join feasible. Batch twin asserted
in tests (same join logic over the full table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_click_to_purchase(events: DataFrame, horizon_minutes: int = 30) -> DataFrame:
    """Attribute each purchase to the same user's clicks in the preceding
    ``horizon_minutes``: click ≤ purchase < click + horizon.

    Both inputs are the same event stream filtered by type; each side
    carries its own watermark so the state store can drop clicks older
    than the horizon once the watermark passes.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    cond = (
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
    )
    return clicks.join(purchases, cond).select(
        "purchase_id", "click_id", F.col("purchase_user").alias("user_id"),
        "click_ts", "purchase_ts", "purchase_value",
    )


def stream_enrich_users(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension (user → tier). The static side is broadcast to every
    micro-batch — no stream state at all (unlike stream-stream joins),
    and the dim is re-resolved per batch, so a refreshed dim table is
    picked up on the next trigger. This is the streaming twin of
    join_broadcast: at 100 TB/day the stream side never shuffles for
    the join."""
    # hint kept: the static dim is broadcast to every micro-batch by contract (no stream state)
    return events.join(F.broadcast(user_dim), "user_id", "left").select(
        "event_id", "ts", "user_id", "event_type", "value", "user_tier"
    )
