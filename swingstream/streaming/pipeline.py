"""Streaming query 1: pages stream → features staging table.

The aggregation state is keyed by (host, window, salt) — the explicit
hot-domain skew handling (T11): a hot host's bucket fans over
``n_salts`` state partitions; the per-batch salt-combine in foreachBatch
is exact because append-mode emission releases ALL salt partials of a
window in the same micro-batch (the global watermark finalizes them
together).  The combine itself is algebraic (sums of sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
from swingstream.functions.textfns import canonical_url, host_of
from swingstream.operators.features import _finalize, _partials
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


def feature_partials_stream(pages: DataFrame, params: SwingParams) -> DataFrame:
    """extract (P6) → watermark → dedup-within-watermark → salted
    windowed partial agg.

    The html→text extraction (the per-row invariant operator) runs as an
    Arrow-vectorized UDF NARROW on the scan side, and the html binary is
    dropped before the first shuffle — §4.3 pin #4: the heavy payload
    column must never enter a stateful operator's exchange.
    """
    from swingstream.extract import extract_col
    from swingstream.operators.features import _row_features

    d = params.delta_seconds
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
    # reduce text to per-row numerics BEFORE the dedup state shuffle —
    # §4.3 pin #4 extended to text: no string payload ever crosses an
    # exchange (dedup previously shuffled the full extracted text; the
    # 32-char content digest is the one small string allowed through
    # when content dedup is on)
    from swingstream.operators.features import content_digest

    extra = []
    if params.dedup_content:
        extra = [
            content_digest().alias("digest"),
            F.floor(F.unix_timestamp("warc_ts") / d).cast("long").alias(
                "bucket_key"
            ),
        ]
    # canonical_urls: rewrite the url column ONCE at the narrow
    # projection — dedup key, host, and salt below all read the
    # canonical identity, so campaign-link duplicates collapse and the
    # survivor's host/salt don't depend on which raw url won (pin in
    # SwingParams.canonical_urls)
    url_expr = (
        canonical_url(F.col("url")) if params.canonical_urls else F.col("url")
    )
    narrow = extracted.select(
        url_expr.alias("url"),
        "warc_ts",
        host_of(url_expr).alias("host"),
        F.pmod(F.xxhash64(url_expr), F.lit(params.n_salts)).alias("salt"),
        *extra,
        *[c.alias(k) for k, c in _row_features().items()],
    )
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
        narrow.withWatermark("warc_ts", params.watermark)
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
    import json as _json
    import os as _os

    table = IcebergLiteTable(table_root)
    pages = read_pages_stream(spark, pages_path, max_files_per_trigger)
    partials = feature_partials_stream(pages, params)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # n_files=1: one file per commit so the downstream scoring query
        # consumes whole commits per trigger (bucket order per host is
        # then monotone — the invariant state.py's emission relies on)
        table.commit(batch_id, combine_partials(batch_df, params), "bucket_ts",
                     n_files=1)

    dropped = 0
    q = (
        partials.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # T7 observability sidecars: per-batch observed input metrics +
    # watermark-drop counts, written next to the commit manifests
    # (observe() reports at batch completion, after the sink commit —
    # a sidecar keeps manifests immutable)
    for p in q.recentProgress:
        try:
            j = _json.loads(p.json)
        except Exception:
            continue
        for op in j.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
        om = j.get("observedMetrics", {}).get("pages_in")
        side = {
            "batch_id": j["batchId"],
            "input_rows": j.get("numInputRows"),
            "observed": om,
            "rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in j.get("stateOperators", [])
            ),
        }
        sp = _os.path.join(table.manifest_dir, f"observed-{j['batchId']}.json")
        if not _os.path.exists(sp):
            with open(sp + ".tmp", "w") as fh:
                _json.dump(side, fh, indent=1)
            _os.replace(sp + ".tmp", sp)
    return table, dropped
