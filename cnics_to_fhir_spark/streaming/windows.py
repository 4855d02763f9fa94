"""Streaming window aggregations with watermark-bounded state.

The batch tumbling-window aggregation (operators/events_windows.py) runs
unchanged under ``readStream``; what streaming adds is the watermark: state
for a window is kept only until the event-time watermark passes its end,
so the operator's memory is O(active windows), not O(stream length) — the
property that lets the same plan run forever on an unbounded source.

Late rows (older than watermark) are dropped by the engine in append mode;
tests/test_streaming.py pins that behavior with a two-batch file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_window_stream(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling window counts/sums per event_type for an
    unbounded event stream. Output (append mode): finalized windows only."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
