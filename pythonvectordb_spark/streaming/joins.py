"""Watermarked stream-stream interval join (SURVEY.md §2.10 extension).

The reference engine has no streaming at all; this is the canonical
two-stream correlation shape for event pipelines: attribute each purchase
to clicks by the same user within a bounded look-back interval.

Scale posture: both sides carry watermarks AND the join condition bounds
``click.ts`` to a finite interval around ``purchase.ts``, so Spark can
evict state for rows older than ``watermark + interval`` — without the
time bound, stream-stream join state grows forever. State lives in the
state store (RocksDB on a real cluster); the shuffle is one exchange per
side on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def purchase_click_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback_minutes: int = 60,
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner-join purchases to same-user clicks with
    ``purchase.ts - lookback <= click.ts <= purchase.ts``.

    Works identically on streaming and batch frames (the batch twin is
    the test oracle); exact-integer output columns.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if c.isStreaming:
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
    )
    return p.join(c, cond, "inner").select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("p_user").cast("long").alias("user_id"),
        F.unix_micros("p_ts").cast("long").alias("purchase_ts_us"),
        F.col("click_id").cast("long").alias("click_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("long").alias("lag_us"),
        F.col("value_cents"),
    )
