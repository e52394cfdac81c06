"""Stream-stream join (Structured Streaming's hardest primitive, ST [ext]).

Purchase attribution: each click joined to purchases by the same user within
30 minutes AFTER the click. Both sides are streams; Spark buffers each side
in watermark-bounded state and emits matches as they arrive. The time-range
predicate is what bounds state: rows age out once the other side's watermark
passes their join window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def purchase_attribution(events: DataFrame) -> DataFrame:
    """events: a streaming DataFrame with (event_id, user_id, ts,
    event_type); its click and purchase rows are the two join sides.
    Returns (click_id, purchase_id, user_id, lag_us) for purchases within
    30 min after the click."""
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    c = (
        clicks.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return c.join(p, cond, "inner").select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
