"""Sessionization operators (the T4 session-window batch twin).

Both are window-function formulations — one shuffle on the partition key,
then ordered evaluation; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame, key: str, ts: str, gap_seconds: int = 1800,
    end_exclusive: bool = False,
) -> DataFrame:
    """Batch sessionization: new session when the gap to the previous
    event exceeds ``gap_seconds`` (lag + cumulative sum — the relational
    twin of streaming ``session_window``).

    end_exclusive=True matches Spark's session_window exactly (an event
    arriving exactly ``gap_seconds`` after the previous one starts a NEW
    session); the default ``>`` is q_sessions' separately pinned batch
    semantics.

    Gaps are exact integer MICROSECONDS (unix_micros), never truncated
    seconds: session_window compares full-precision timestamps, and a
    second-floor gap diverges on sub-second data (prev=10.9s, cur=50.1s:
    true gap 39.2s < 40 but floor gap 50-10=40 >= 40 — a phantom
    boundary), which would break the pinned stream==batch session
    parity."""
    w = Window.partitionBy(key).orderBy(ts)
    # cast("timestamp") so TIMESTAMP_NTZ inputs work too (unix_micros
    # rejects NTZ); the session timezone is pinned UTC, so the cast is a
    # pure type adjustment, not a wall-clock shift
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    prev_us = F.unix_micros(F.lag(ts, 1).over(w).cast("timestamp"))
    gap = us - prev_us
    gap_us = int(gap_seconds) * 1_000_000
    boundary = gap >= gap_us if end_exclusive else gap > gap_us
    new_sess = F.when(gap.isNull() | boundary, 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )


def session_stats(
    df: DataFrame, key: str, ts: str, gap_seconds: int = 1800
) -> DataFrame:
    """Per-session aggregates: (key, session_id, n_events, start, end)."""
    s = sessionize(df, key, ts, gap_seconds)
    return (
        s.groupBy(key, "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
        .orderBy(key, "session_id")
    )
