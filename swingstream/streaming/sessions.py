"""Session-window SWING pipeline (SURVEY.md §2.8 T4 as a TOPOLOGY, not
just a contract query): per-host ACTIVITY SESSIONS replace fixed
Δ-buckets as the series unit.

    pages stream → extract → watermark → dedup
      → groupBy(host, session_window(warc_ts, gap)).agg(features)   [q1]
      → staged session rows (exactly-once manifest commits)
      → per-host stateful scoring over the SESSION SEQUENCE          [q2]

Pinned semantics (batch twin: pipeline.swing_sessions_batch):
  * a session ends when no document arrives for ``session_gap``;
    Spark's session_window is end-exclusive (an event exactly gap after
    the previous one starts a NEW session) — the batch twin uses >=;
  * the SWING series index of a session is its per-host SEQUENCE
    NUMBER (0-based, ordered by session_start): lag k = "k sessions
    earlier", w = "w consecutive sessions".  Sessions are disjoint per
    host, and watermark-gated emission finalizes them in start order,
    so the streaming sequence assignment is deterministic and equals
    the batch row_number;
  * win_start_ts is synthetic (seq · delta_seconds) on both sides —
    real session extents live in the staged table's lineage columns.

No salting here: a salted session agg would compute per-salt session
boundaries (session extent depends on which rows share the key), which
is NOT algebraically combinable — the hot-host guard for sessions is
the gap bound itself plus state TTL, documented as the T11 exception.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from swingstream.config import SwingParams
from swingstream.operators.features import _partials, feature_vector
from swingstream.operators.scoring import _emit_frame
from swingstream.sources.catalog import IcebergLiteTable
from swingstream.sources.pages import read_pages_stream
from swingstream.streaming.pipeline import narrow_pages, start_ledger_query
from swingstream.streaming.state import (
    _advance,
    drain_concurrent,
    start_scoring_query,
)

SESSION_FEATURE_SCHEMA = StructType(
    [
        StructField("group_key", StringType(), False),
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)

SESS_STATE_SCHEMA = StructType(
    [
        StructField("idx", ArrayType(LongType())),
        StructField("feats", ArrayType(ArrayType(DoubleType()))),
        StructField("max_emitted", LongType()),
        StructField("next_seq", LongType()),
    ]
)


def session_features_stream(pages: DataFrame, params: SwingParams) -> DataFrame:
    """narrow_pages → watermark → dedup → session-window feature agg."""
    deduped = (
        narrow_pages(pages, params)
        .withWatermark("warc_ts", params.watermark)
        .dropDuplicatesWithinWatermark(["url", "warc_ts"])
    )
    agg = deduped.groupBy(
        "host", F.session_window("warc_ts", params.session_gap).alias("win")
    ).agg(*[a.alias(k) for k, a in _partials().items()])
    # the session's real extent in place of bucket_ts
    return agg.select(
        F.col("host").alias("group_key"),
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        feature_vector().alias("features"),
    )


def make_session_state_fn(params: SwingParams, names: list[str]):
    """Per-host scoring over the session SEQUENCE: arriving finalized
    sessions (start-ordered within a batch after an explicit sort, and
    across batches by watermark monotonicity) are assigned consecutive
    sequence numbers carried in state, then flow through the SAME
    _advance core as the Δ-bucket pipeline — lag k = k sessions back."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows: list[tuple] = []
        for pdf in pdfs:
            for st, f in zip(pdf["session_start"], pdf["features"]):
                rows.append((st, [float(x) for x in f]))
        rows.sort(key=lambda r: r[0])
        if state.exists:
            idx0, feats0, max_emitted, next_seq = state.get
            prev = (idx0, feats0, max_emitted)
            next_seq = int(next_seq)
        else:
            prev, next_seq = None, 0
        batch = pd.DataFrame(
            {
                "bucket_idx": range(next_seq, next_seq + len(rows)),
                "features": [f for _, f in rows],
            }
        )
        next_seq += len(rows)
        scored, (idx, feats, max_emitted) = _advance(
            str(key[0]), prev, iter([batch]), params, names
        )
        state.update((idx, feats, max_emitted, next_seq))
        if scored:
            yield _emit_frame(scored)

    return fn


# The session series unit for state.start_scoring_query.
SESSION_SERIES = (SESSION_FEATURE_SCHEMA, make_session_state_fn, SESS_STATE_SCHEMA)


def run_session_pipeline(
    spark, pages_path: str, work_root: str, params: SwingParams, names: list[str]
):
    """Production topology (session variant): query 1 and query 2 run
    CONCURRENTLY — query 2 tails query 1's session commits as they land,
    the same topology and drain as state.run_pipeline_concurrent.
    Returns (features, edges)."""
    feat_table = IcebergLiteTable(os.path.join(work_root, "sess_features"))
    q1 = start_ledger_query(
        session_features_stream(read_pages_stream(spark, pages_path, 4), params),
        feat_table, os.path.join(work_root, "ck_sf"), "session_start", n_files=1,
    )
    q2, edges_table = start_scoring_query(
        spark,
        feat_table.data_dir,
        os.path.join(work_root, "sess_edges"),
        os.path.join(work_root, "ck_se"),
        params,
        names,
        available_now=False,
        series=SESSION_SERIES,
    )
    drain_concurrent(q1, feat_table, q2)
    return feat_table, edges_table
