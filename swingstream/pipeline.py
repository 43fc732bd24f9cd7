"""Batch SWING pipeline — end-to-end composition (SURVEY.md §3.4 batch twin).

    pages ──host_bucket_features──> canonical series ──score_windows──>
    edge table ──rank_edges──> ranked adjacency list

Mirrors the reference lifecycle [ref: Swing/Swing.py: zscore_all_data →
create_windows → fit_windows → rank_edges → compile_roller_edges →
make_sort_df ~L?] as one lazy Catalyst plan: two shuffles (feature agg
by (host, bucket); scoring group by group_key, each series whole) plus
the final small rank aggregation.  The windows, their gap zero-fill and
the dead-span rule are built inside the scoring group
(scoring.window_designs), as the stream builds them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swingstream.config import SwingParams
from swingstream.operators.features import host_bucket_features
from swingstream.operators.ranking import rank_edges, rank_edges_sparse
from swingstream.operators.scoring import score_windows


def series_from_features(features: DataFrame) -> DataFrame:
    """(group_key, bucket_idx, bucket_ts, features[, is_real]) ->
    canonical series; is_real (densify_buckets' marker) rides along when
    present so the scorer can drop the zero-filled slots."""
    cols = ["group_key", F.lit("").alias("replicate"), "bucket_idx", "bucket_ts"]
    if "is_real" in features.columns:
        cols.append("is_real")
    cols.append("features")
    return features.select(*cols)


def series_from_wide(
    wide: DataFrame, feature_cols: list[str], group_key: str = "net"
) -> DataFrame:
    """DREAM4-style wide frame (series_key, bucket_idx, ts, g1..gG) ->
    canonical series (replicate = series_key, pooled under one group)."""
    return wide.select(
        F.lit(group_key).alias("group_key"),
        F.col("series_key").alias("replicate"),
        F.col("bucket_idx").cast("long").alias("bucket_idx"),
        F.col("ts").alias("bucket_ts"),
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("features"),
    )


def swing_batch(
    series: DataFrame,
    params: SwingParams,
    feature_names: tuple[str, ...] | None = None,
) -> DataFrame:
    """Canonical series -> ranked adjacency list (the flagship query).

    Dispatches on params.emit_zero_edges: a sparse scorer emits sentinel
    rows instead of zero hypotheses, so its edges must go through the
    closed-form sparse rank aggregation — feeding them to dense
    rank_edges would silently rank sentinel rows as edges.
    """
    edges = score_windows(series, params, feature_names)
    if params.emit_zero_edges:
        return rank_edges(edges, params)
    return rank_edges_sparse(edges, params, feature_names)


def swing_edges(
    series: DataFrame,
    params: SwingParams,
    feature_names: tuple[str, ...] | None = None,
) -> DataFrame:
    """Canonical series -> per-window edge table (pre-aggregation)."""
    return score_windows(series, params, feature_names)


def pages_pipeline(
    pages: DataFrame, params: SwingParams, *, salted: bool = True
) -> DataFrame:
    """Full batch pipeline from the raw pages table."""
    feats = host_bucket_features(pages, params, salted=salted)
    return swing_batch(series_from_features(feats), params)


def session_series_batch(pages: DataFrame, params: SwingParams) -> DataFrame:
    """Batch twin of streaming.sessions: per-host activity sessions as
    the series unit (canonical series schema, bucket_idx = per-host
    session sequence number, bucket_ts synthetic = seq · Δ — the pinned
    session-variant semantics)."""
    from swingstream.functions.textfns import host_of
    from swingstream.operators.asof import sessionize
    from swingstream.operators.cleaning import drop_incomplete
    from swingstream.operators.features import (
        _partials,
        _row_features,
        deduplicate_pages,
        feature_vector,
        url_key,
    )

    base = drop_incomplete(pages, subset=["url", "warc_ts", "text"])
    url = url_key(params)  # the streaming narrow_pages' url identity
    # per-row numerics before the dedup shuffle (pin #4: text never
    # crosses an exchange)
    rows = deduplicate_pages(
        base.select(
            host_of(url).alias("host"),
            url.alias("url"),
            "warc_ts",
            *[c.alias(k) for k, c in _row_features().items()],
        )
    )
    # end_exclusive: Spark's session_window starts a new session at an
    # exact-gap arrival — the batch twin must too
    sess = sessionize(rows, "host", "warc_ts",
                      gap_seconds=params.session_gap_seconds, end_exclusive=True)
    agg = sess.groupBy("host", "session_id").agg(
        *[a.alias(k) for k, a in _partials().items()],
        F.min("warc_ts").alias("session_start"),
    )
    d = params.delta_seconds
    return agg.select(
        F.col("host").alias("group_key"),
        F.lit("").alias("replicate"),
        (F.col("session_id") - 1).cast("long").alias("bucket_idx"),
        F.timestamp_seconds((F.col("session_id") - 1) * d).alias("bucket_ts"),
        feature_vector().alias("features"),
    )


def swing_sessions_batch(pages: DataFrame, params: SwingParams) -> DataFrame:
    """Session-variant batch pipeline: pages -> per-session edge table."""
    return swing_edges(session_series_batch(pages, params), params)
