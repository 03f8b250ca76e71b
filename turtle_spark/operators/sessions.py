"""Sessionization over event streams.

``sessionize`` builds gap-based sessions via window functions (lag +
running sum of session-break flags).  It is SQL-expressible, so it
carries a DuckDB oracle; two shuffles (both on user_id — Catalyst
reuses the exchange for the consecutive windows).  It produces
(user_id, session_start, session_end, n_events, value_range_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions via lag + cumulative session counter."""
    ts = F.col("ts").cast("timestamp")
    w_user = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)

    marked = events.select("user_id", ts.alias("ts"), "value").withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_user) > gap_us,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.min("value") + F.max("value"), 6).alias("value_range_sum"),
        )
        .drop("session_no")
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each ordered (from_type -> to_type) pair of
    CONSECUTIVE events of the same user, the transition count and
    probability — the product-analytics companion to the funnel query
    (which fixes the path; this measures all of them).

    One window (lead over the user's time-ordered stream, tie-broken
    on the id so ordering is total) + one map-side-combined count
    aggregation; the probability denominator is a second tiny window
    over the COUNTED rows (distinct type pairs), never the events.
    Counts stay int64; the single int/int division makes `prob`
    bit-identical in any engine.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(w_from)).alias("prob"),
    )
