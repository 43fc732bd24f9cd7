"""Streaming query 1: pages stream → features staging table, plus the
pieces every streaming query of both series units shares: the narrow
scan-side projection, the exactly-once ledger writer and the
observed-metrics sidecars.

The aggregation state is keyed by (host, window, salt) — the explicit
hot-domain skew handling (T11): a hot host's bucket fans over
``n_salts`` state partitions; the per-batch salt-combine in foreachBatch
is exact because append-mode emission releases ALL salt partials of a
window in the same micro-batch (the global watermark finalizes them
together).  The combine itself is algebraic (sums of sums).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
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
from swingstream.functions.textfns import host_of
from swingstream.operators.features import (
    _finalize,
    _partials,
    _row_features,
    content_digest,
    url_key,
)
from swingstream.sources.catalog import IcebergLiteTable
from swingstream.sources.pages import read_pages_stream

FEATURE_SCHEMA = StructType(
    [
        StructField("group_key", StringType(), False),
        StructField("bucket_idx", LongType(), False),
        StructField("bucket_ts", TimestampType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


def narrow_pages(pages: DataFrame, params: SwingParams, *extra: Column) -> DataFrame:
    """extract (P6) → observe("pages_in") → narrow projection
    (url, warc_ts, host, *extra, per-row features).

    The html→text extraction (the per-row invariant operator) runs
    NARROW on the scan side, and the html binary is dropped before the
    first shuffle — §4.3 pin #4: the heavy payload column must never
    enter a stateful operator's exchange.  Text is reduced to per-row
    numerics here too, so no string payload crosses an exchange either
    (``extra`` may add the 32-char content digest when content dedup is
    on).  With canonical_urls the url column is rewritten ONCE here:
    dedup key, host and salt all read the canonical identity, so
    campaign-link duplicates collapse and the survivor's host/salt don't
    depend on which raw url won.
    """
    from swingstream.extract import extract_col

    extracted = pages.select(
        "url",
        "warc_ts",
        extract_col(F.col("html")).alias("text"),
        "lang",
    ).observe(
        "pages_in",  # T7 observability: per-batch input volume + event-time
        F.count(F.lit(1)).alias("rows"),
        F.min("warc_ts").alias("min_ts"),
        F.max("warc_ts").alias("max_ts"),
    )
    url = url_key(params)
    return extracted.select(
        url.alias("url"),
        "warc_ts",
        host_of(url).alias("host"),
        *extra,
        *[c.alias(k) for k, c in _row_features().items()],
    )


def feature_partials_stream(pages: DataFrame, params: SwingParams) -> DataFrame:
    """narrow_pages → watermark → dedup-within-watermark → salted
    windowed partial agg."""
    d = params.delta_seconds
    extra = [F.pmod(F.xxhash64(url_key(params)), F.lit(params.n_salts)).alias("salt")]
    if params.dedup_content:
        extra += [
            content_digest().alias("digest"),
            F.floor(F.unix_timestamp("warc_ts") / d).cast("long").alias(
                "bucket_key"
            ),
        ]
    # T8 exactly-once rows.  Content mode drops same-(host, bucket)
    # content republications as well — one state op covers both, since
    # (url, warc_ts) redeliveries share (host, digest, bucket) by
    # construction (key scope pinned in SwingParams.dedup_content).
    dedup_key = (
        ["host", "digest", "bucket_key"]
        if params.dedup_content
        else ["url", "warc_ts"]
    )
    deduped = (
        narrow_pages(pages, params, *extra)
        .withWatermark("warc_ts", params.watermark)
        .dropDuplicatesWithinWatermark(dedup_key)
    )
    # every partial is a plain sum/count => exact algebraic combine
    # across salts and a small fixed-size aggregation state per key
    return deduped.groupBy(
        "host", F.window("warc_ts", f"{d} seconds").alias("win"), "salt"
    ).agg(*[a.alias(k) for k, a in _partials().items()])


def combine_partials(batch_df: DataFrame, params: SwingParams) -> DataFrame:
    """Salt-combine one emitted micro-batch into final feature rows."""
    d = params.delta_seconds
    merged = (
        batch_df.withColumn(
            # F.floor, not cast('long'): cast truncates toward zero, which
            # diverges from the batch path (features.pages_to_bucketed) by
            # one bucket for pre-1970 event times
            "bucket_idx",
            F.floor(F.unix_timestamp(F.col("win.start")) / d).cast("long"),
        )
        .groupBy("host", "bucket_idx")
        .agg(*[F.sum(k).alias(k) for k in _partials()])
    )
    return (
        _finalize(merged, params)
        .withColumnRenamed("host", "group_key")
        .select("group_key", "bucket_idx", "bucket_ts", "features")
    )


def start_ledger_query(
    df: DataFrame,
    table: IcebergLiteTable,
    checkpoint: str,
    ts_col: str,
    *,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    n_files: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``df``'s append-mode foreachBatch writer: each micro-batch
    (through ``prepare``, when given) is one idempotent
    ``table.commit`` — the exactly-once sink of every streaming query.

    available_now=False starts a continuous micro-batch trigger, the
    production form where query 2 tails query 1's commits live.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df if prepare is None else prepare(batch_df)
        table.commit(batch_id, out, ts_col, n_files=n_files)

    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        # short poll: query 2 tails query 1's commits — a 1 s trigger
        # adds up to 1 s of dead alignment time per upstream commit,
        # which is pure fixed cost in the N-vs-4N scaling measurement
        writer = writer.trigger(processingTime="250 milliseconds")
    return writer.start()


def start_feature_query(
    spark: SparkSession,
    pages_path: str,
    table: IcebergLiteTable,
    checkpoint: str,
    params: SwingParams,
    max_files_per_trigger: int,
) -> StreamingQuery:
    """Start query 1 (availableNow) over the pages stream into ``table``."""
    pages = read_pages_stream(spark, pages_path, max_files_per_trigger)
    # n_files=1: one file per commit so the downstream scoring query
    # consumes whole commits per trigger (bucket order per host is then
    # monotone — the invariant state.py's emission relies on)
    return start_ledger_query(
        feature_partials_stream(pages, params), table, checkpoint, "bucket_ts",
        prepare=lambda b: combine_partials(b, params), n_files=1,
    )


def write_observed(q: StreamingQuery, table: IcebergLiteTable) -> int:
    """T7 observability sidecars: one ``observed-<batch>.json`` per
    progress entry of ``q``, next to ``table``'s commit manifests —
    the batch's input rows, its observed "pages_in" metrics and its
    watermark drops (observe() reports at batch completion, after the
    sink commit — a sidecar keeps manifests immutable).  Returns the
    total rows dropped by watermark.  Reads the query's 100-entry
    ``recentProgress`` ring: a longer stream's record is incomplete."""
    dropped = 0
    for p in q.recentProgress:
        j = json.loads(p.json)
        n = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for op in j.get("stateOperators", [])
        )
        dropped += n
        sp = os.path.join(table.manifest_dir, f"observed-{j['batchId']}.json")
        if not os.path.exists(sp):
            side = {
                "batch_id": j["batchId"],
                "input_rows": j.get("numInputRows"),
                "observed": j.get("observedMetrics", {}).get("pages_in"),
                "rows_dropped_by_watermark": n,
            }
            with open(sp + ".tmp", "w") as fh:
                json.dump(side, fh, indent=1)
            os.replace(sp + ".tmp", sp)
    return dropped


def run_feature_query(
    spark: SparkSession,
    pages_path: str,
    table_root: str,
    checkpoint: str,
    params: SwingParams,
    max_files_per_trigger: int = 1,
):
    """Run query 1 to completion (availableNow) with exactly-once commits.

    Returns (IcebergLiteTable, total rows dropped by watermark).
    """
    table = IcebergLiteTable(table_root)
    q = start_feature_query(
        spark, pages_path, table, checkpoint, params, max_files_per_trigger
    )
    q.awaitTermination()
    return table, write_observed(q, table)
