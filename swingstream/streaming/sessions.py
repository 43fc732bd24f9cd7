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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark.sql import functions as F

from swingstream.config import SwingParams
from swingstream.functions.textfns import canonical_url, host_of
from swingstream.operators.features import _partials, _row_features
from swingstream.operators.scoring import EDGE_SCHEMA
from swingstream.sources.catalog import IcebergLiteTable
from swingstream.sources.pages import read_pages_stream
from swingstream.streaming.state import _advance

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
    """extract (P6) → watermark → dedup → session-window feature agg."""
    from swingstream.extract import extract_col

    extracted = pages.select(
        "url", "warc_ts", extract_col(F.col("html")).alias("text"), "lang"
    ).observe(
        "sess_pages_in",
        F.count(F.lit(1)).alias("rows"),
        F.min("warc_ts").alias("min_ts"),
        F.max("warc_ts").alias("max_ts"),
    )
    # text reduced to numerics before the dedup shuffle (pin #4 — same
    # as feature_partials_stream)
    url_expr = (  # same canonical-identity rewrite as feature_partials_stream
        canonical_url(F.col("url")) if params.canonical_urls else F.col("url")
    )
    narrow = extracted.select(
        url_expr.alias("url"),
        "warc_ts",
        host_of(url_expr).alias("host"),
        *[c.alias(k) for k, c in _row_features().items()],
    )
    deduped = (
        narrow.withWatermark("warc_ts", params.watermark)
        .dropDuplicatesWithinWatermark(["url", "warc_ts"])
    )
    agg = deduped.groupBy(
        "host", F.session_window("warc_ts", params.session_gap).alias("win")
    ).agg(*[a.alias(k) for k, a in _partials().items()])
    # same 10 per-unit features as _finalize, with the session's real
    # extent in place of bucket_ts
    return (
        agg.select(
            F.col("host").alias("group_key"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *[k for k in _partials()],
        )
        .withColumn("n", F.col("n_docs").cast("double"))
        .select(
            "group_key",
            "session_start",
            "session_end",
            F.array(
                F.col("n"),
                F.col("sum_len") / F.col("n"),
                F.col("n_en") / F.col("n"),
                F.col("n_de") / F.col("n"),
                F.col("n_fr") / F.col("n"),
                F.col("n_es") / F.col("n"),
                F.col("n_zz") / F.col("n"),
                F.col("sum_tokens") / F.col("n"),
                F.col("sum_digit_ratio") / F.col("n"),
                F.col("n_long") / F.col("n"),
            ).cast("array<double>").alias("features"),
        )
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
            yield pd.concat([pd.DataFrame(r) for r in scored], ignore_index=True)

    return fn


def start_session_scoring_query(
    spark,
    staging_data_dir: str,
    out_root: str,
    checkpoint: str,
    params: SwingParams,
    names: list[str],
    *,
    available_now: bool = True,
):
    """Start query 2 (session variant) over staged session rows;
    returns (query, table).  available_now=False = continuous trigger
    (the concurrent production topology)."""
    table = IcebergLiteTable(out_root)
    feats = (
        spark.readStream.schema(SESSION_FEATURE_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "4")
        .parquet(staging_data_dir)
    )
    edges = feats.groupBy("group_key").applyInPandasWithState(
        make_session_state_fn(params, names),
        EDGE_SCHEMA,
        SESS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        table.commit(batch_id, batch_df, "win_start_ts")

    writer = (
        edges.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="250 milliseconds")
    return writer.start(), table


def run_session_pipeline(
    spark, pages_path: str, work_root: str, params: SwingParams, names: list[str]
):
    """Production topology (session variant): query 1 and query 2 run
    CONCURRENTLY — query 2 tails query 1's session commits as they land,
    mirroring state.run_pipeline_concurrent.  Returns (features, edges)."""
    import json as _json
    import os

    feat_table = IcebergLiteTable(os.path.join(work_root, "sess_features"))
    pages = read_pages_stream(spark, pages_path, 4)
    feats = session_features_stream(pages, params)

    def feat_sink(batch_df: DataFrame, batch_id: int) -> None:
        feat_table.commit(batch_id, batch_df, "session_start", n_files=1)

    q1 = (
        feats.writeStream.foreachBatch(feat_sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work_root, "ck_sf"))
        .trigger(availableNow=True)
        .start()
    )
    q2, edges_table = start_session_scoring_query(
        spark,
        feat_table.data_dir,
        os.path.join(work_root, "sess_edges"),
        os.path.join(work_root, "ck_se"),
        params,
        names,
        available_now=False,
    )
    q1.awaitTermination()
    # T7 observability sidecars for the session query (same shape as
    # run_feature_query's): per-batch observed inputs + watermark drops
    for p in q1.recentProgress:
        try:
            j = _json.loads(p.json)
        except Exception:
            continue
        side = {
            "batch_id": j["batchId"],
            "input_rows": j.get("numInputRows"),
            "observed": j.get("observedMetrics", {}).get("sess_pages_in"),
            "rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in j.get("stateOperators", [])
            ),
        }
        sp = os.path.join(feat_table.manifest_dir, f"observed-{j['batchId']}.json")
        if not os.path.exists(sp):
            with open(sp + ".tmp", "w") as fh:
                _json.dump(side, fh, indent=1)
            os.replace(sp + ".tmp", sp)
    q2.processAllAvailable()  # drain everything query 1 committed
    q2.stop()
    q2.awaitTermination()
    return feat_table, edges_table
