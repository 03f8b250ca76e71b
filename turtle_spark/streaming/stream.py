"""Event-time operators that run on streaming and batch DataFrames.

Both functions here carry watermarks, so the same code runs under
Structured Streaming and, where watermarks are no-ops, on static
data; the query registry runs them in batch against DuckDB oracles.

* ``windowed_event_counts`` — watermarked tumbling-window aggregation
  over an event stream (late data handled by the watermark);
* ``stream_interval_join`` — a stream-stream interval join whose
  time-bounded condition lets Spark purge join state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type.

    Works on both a streaming and a batch events DataFrame (the
    watermark is a no-op in batch), so the oracle check can run the
    same logic through DuckDB on static data.
    """
    # watermarks require TIMESTAMP (with zone); parquet sources often
    # carry TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "min_value",
            "max_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    gap_minutes: int = 60,
    watermark: str = "2 hours",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-stream interval join: each left row matched to the right
    rows with the same ``key`` whose ``right_ts`` falls in
    ``[left_ts - gap_minutes, left_ts]`` (attribution shape: a
    purchase joined to the clicks that preceded it).

    Both sides carry watermarks, and the join condition bounds
    ``right_ts`` relative to ``left_ts`` — the two things Spark needs
    to PURGE join state: a right row's fingerprint is dropped as soon
    as the watermark passes ``right_ts + gap``, so state stays bounded
    on an unbounded stream.  An unconstrained stream-stream join would
    buffer both streams forever; this shape is the 100 TB-safe one.

    Works identically on batch DataFrames (watermarks are no-ops), so
    the oracle check runs the same function on static parquet.
    """
    lw = left.withColumn(left_ts, F.col(left_ts).cast("timestamp")).withWatermark(
        left_ts, watermark
    )
    rw = right.withColumn(right_ts, F.col(right_ts).cast("timestamp")).withWatermark(
        right_ts, watermark
    )
    lk, rk = F.col(f"l.{key}"), F.col(f"r.{key}")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (lk == rk)
        & (rt >= lt - F.expr(f"INTERVAL {gap_minutes} MINUTES"))
        & (rt <= lt)
    )
    out_right = right_cols or [c for c in right.columns if c not in (key, right_ts)]
    return (
        lw.alias("l")
        .join(rw.alias("r"), cond)
        .select(
            lk.alias(key),
            F.unix_micros(lt).alias(f"{left_ts}_us"),
            F.unix_micros(rt).alias(f"{right_ts}_us"),
            *[F.col(f"l.{c}") for c in left.columns if c not in (key, left_ts)],
            *[F.col(f"r.{c}").alias(c) for c in out_right],
        )
    )
