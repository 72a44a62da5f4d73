"""Event-stream operators (batch form; streaming twins in
darkbo_spark/streaming): precedence dedup, running aggregates,
gap-based sessionization, JSON property extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# dense results outrank sparse at equal ids in the reference's hybrid merge
# (ai_worker.py:240-256); generalized here to any priority mapping
EVENT_PRIORITY = {"purchase": 0, "signup": 1, "click": 2, "view": 3, "error": 4}


def priority_col() -> F.Column:
    expr = F.lit(99)
    for k in sorted(EVENT_PRIORITY, key=EVENT_PRIORITY.get, reverse=True):
        expr = F.when(F.col("event_type") == k, F.lit(EVENT_PRIORITY[k])).otherwise(expr)
    return expr


def dedup_by_priority(events: DataFrame) -> DataFrame:
    """One event per user: highest-priority type wins, then earliest ts,
    then event_id (fully deterministic — NOT dropDuplicates)."""
    w = Window.partitionBy("user_id").orderBy(
        priority_col().asc(), F.asc("ts"), F.asc("event_id")
    )
    return (
        events.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Per-user running sum of value + event ordinal, ordered by (ts,
    event_id). Decimal accumulation → exact across engines."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(w).alias("seq"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    ).withColumn("running_value", F.sum("v").over(w).cast("double")).drop("v")


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions: a new session starts when the inter-event gap for
    a user exceeds `gap_minutes`. session_seq = cumulative count of session
    starts (two stacked windows; the streaming twin uses
    applyInPandasWithState)."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # microseconds, not whole seconds: truncation could flip the > comparison
    # for sub-second gaps right at the boundary (oracle compares exact
    # INTERVAL); NTZ-safe via the timestamp cast (UTC session)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us, 1).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    return (
        events.withColumn("is_new_session", is_new)
        .withColumn("session_seq", F.sum("is_new_session").over(w))
        .select("user_id", "event_id", "ts", "session_seq")
    )


def json_prop(events: DataFrame) -> DataFrame:
    """Typed extraction of $.k from the JSON props column + per-type
    aggregate."""
    v = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.select("event_type", v.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
