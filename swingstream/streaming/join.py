"""Path A: stateful stream-stream lagged self-join (SURVEY.md §2.3 J1,
§2.8 T6 — the explicit "stateful stream-stream self-join" clause of
BASELINE.json).

The per-host feature stream is joined to itself on a time-interval
condition: explanatory bucket = response bucket − k, k ∈ [k_min, k_max].
Spark plans this as StreamingSymmetricHashJoinExec with watermark-bounded
state on both sides — state holds only the last (k_max·Δ + watermark)
of each host's buckets.

This is the relational formulation of the lagged design matrix; the
production pipeline uses the rolling-buffer form (state.py) because one
grouped-map already materializes the whole design.  No program path
calls this module: it is kept as a root of tests/test_no_dead_code.py
because it is the BASELINE.json stateful stream-stream self-join, and
``lagged_pairs_batch`` is the reference the stream form is compared
against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swingstream.config import SwingParams


def lagged_pairs_stream(features: DataFrame, params: SwingParams) -> DataFrame:
    """features stream -> (group_key, bucket_idx, lag, features, lag_features).

    Both sides carry the watermark; the join condition bounds
    explanatory-side state to k_max buckets + watermark.
    """
    d = params.delta_seconds
    wm = params.watermark
    resp = (
        features.withWatermark("bucket_ts", wm)
        .select(
            F.col("group_key").alias("r_key"),
            F.col("bucket_idx").alias("r_idx"),
            F.col("bucket_ts").alias("r_ts"),
            F.col("features").alias("r_features"),
        )
    )
    expl = (
        features.withWatermark("bucket_ts", wm)
        .select(
            F.col("group_key").alias("e_key"),
            F.col("bucket_idx").alias("e_idx"),
            F.col("bucket_ts").alias("e_ts"),
            F.col("features").alias("e_features"),
        )
    )
    cond = (
        (F.col("r_key") == F.col("e_key"))
        & (F.col("e_ts") >= F.col("r_ts") - F.expr(f"INTERVAL {params.max_lag * d} SECONDS"))
        & (F.col("e_ts") <= F.col("r_ts") - F.expr(f"INTERVAL {params.min_lag * d} SECONDS"))
    )
    return resp.join(expl, cond, "inner").select(
        F.col("r_key").alias("group_key"),
        F.col("r_idx").alias("bucket_idx"),
        F.col("r_ts").alias("bucket_ts"),
        (F.col("r_idx") - F.col("e_idx")).cast("int").alias("lag"),
        F.col("r_features").alias("features"),
        F.col("e_features").alias("lag_features"),
    )


def lagged_pairs_batch(features: DataFrame, params: SwingParams) -> DataFrame:
    """Batch oracle for the same join (range join; AQE/broadcast picks
    the physical form)."""
    d = params.delta_seconds
    resp = features.select(
        F.col("group_key").alias("r_key"),
        F.col("bucket_idx").alias("r_idx"),
        F.col("bucket_ts").alias("r_ts"),
        F.col("features").alias("r_features"),
    )
    expl = features.select(
        F.col("group_key").alias("e_key"),
        F.col("bucket_idx").alias("e_idx"),
        F.col("features").alias("e_features"),
    )
    cond = (
        (F.col("r_key") == F.col("e_key"))
        & (F.col("e_idx") >= F.col("r_idx") - params.max_lag)
        & (F.col("e_idx") <= F.col("r_idx") - params.min_lag)
    )
    return resp.join(expl, cond, "inner").select(
        F.col("r_key").alias("group_key"),
        F.col("r_idx").alias("bucket_idx"),
        F.col("r_ts").alias("bucket_ts"),
        (F.col("r_idx") - F.col("e_idx")).cast("int").alias("lag"),
        F.col("r_features").alias("features"),
        F.col("e_features").alias("lag_features"),
    )
