"""Streaming windowed aggregation with watermark-based late-data handling
(SURVEY.md §2.10; the streaming twin of relational.events_tumbling).

``events_stream_tumbling`` is the canonical shape: watermark bounds state
(late rows beyond the watermark are dropped and their windows finalized),
tumbling windows aggregate counts/sums, append-mode output emits each
window exactly once when it closes. At 100 TB/day the same plan runs on a
Kafka source with state in RocksDB; nothing here is local-mode-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def events_stream_tumbling(
    stream: DataFrame,
    minutes: int = 10,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window event aggregates.

    Output schema matches relational.events_tumbling (ws_epoch/n_events/
    value_cents) so batch results can oracle-check the streaming ones."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, f"{minutes} minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
        .select(
            F.unix_timestamp("win.start").cast("long").alias("ws_epoch"),
            "n_events",
            "value_cents",
        )
    )
