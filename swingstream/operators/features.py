"""Per-host per-bucket document-feature aggregation (SURVEY.md §2.4 A9).

pages(url, warc_ts, html, text, lang)
  -> dedup exact redeliveries                       (J5/T8 batch form)
  -> derive host (P7); html is PRUNED here — binary never flows further
     (§4.3 pin #4: 10^12-scale byte budget)
  -> groupBy(host, Δ-bucket).agg(G built-in aggregates)  [one shuffle]
  -> densify missing buckets to zero-vectors (regular sampling — SWING
     assumes evenly-sampled series)
  -> pack ArrayType(double) feature vector (§4.3 pin #3)

The salted variant splits the aggregation into (host, bucket, salt)
partials + a combine stage — the explicit hot-domain skew handling
BASELINE.json:14 requires (AQE does not rebalance streaming state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swingstream.config import SwingParams
from swingstream.functions.textfns import (
    canonical_url,
    digit_ratio,
    host_of,
    token_count,
)

# Per-row scalar features, computed BEFORE any shuffle: §4.3 pin #4
# extended from `html` to `text` — the string payload is reduced to ~10
# numerics on the scan side, so NO heavy column ever crosses an exchange
# (the dedup state shuffle previously carried the full text).
def _row_features() -> dict[str, Column]:
    toks = token_count(F.col("text"))
    return {
        "f_len": F.length("text").cast("long"),
        "f_en": (F.col("lang") == "en").cast("long"),
        "f_de": (F.col("lang") == "de").cast("long"),
        "f_fr": (F.col("lang") == "fr").cast("long"),
        "f_es": (F.col("lang") == "es").cast("long"),
        "f_zz": (F.col("lang") == "zz").cast("long"),
        "f_tokens": toks.cast("long"),
        "f_digit": digit_ratio(F.col("text")),
        # fraction of long docs — algebraic (a streaming-state-friendly
        # feature; DISTINCT-style features need sketches at scale, and
        # exact distinct-count coverage lives in the contract queries)
        "f_long": (toks >= 20).cast("long"),
    }


# Partial (algebraic) aggregates over the per-row features.  Keeping
# them sum/count-shaped is what makes the salted two-stage aggregation
# exact: stage 2 just sums the partials.  (Functions, not module
# constants: Column construction needs an active SparkContext.)
def _partials() -> dict[str, Column]:
    return {
        "n_docs": F.count(F.lit(1)),
        "sum_len": F.sum("f_len"),
        "n_en": F.sum("f_en"),
        "n_de": F.sum("f_de"),
        "n_fr": F.sum("f_fr"),
        "n_es": F.sum("f_es"),
        "n_zz": F.sum("f_zz"),
        "sum_tokens": F.sum("f_tokens"),
        "sum_digit_ratio": F.sum("f_digit"),
        "n_long": F.sum("f_long"),
    }


def deduplicate_pages(pages: DataFrame) -> DataFrame:
    """Drop exact redeliveries.  Pin: identity = (url, warc_ts).

    Re-crawls of the same url at a later warc_ts are distinct versions
    (J5 as-of semantics pick among them); identical (url, warc_ts) rows
    are transport duplicates.  Streaming twin: dropDuplicatesWithinWatermark.
    """
    return pages.dropDuplicates(["url", "warc_ts"])


def content_digest() -> Column:
    """Content identity for exact dedup: md5 over (lang, text) — lang is
    included so two survivors are fully interchangeable for every
    per-row feature (f_en..f_zz read lang)."""
    return F.md5(F.concat_ws("\x00", F.col("lang"), F.col("text")))


def url_key(params: SwingParams) -> Column:
    """The url identity the streaming dedup key, host and salt read: its
    canonical form when ``params.canonical_urls`` is on (pin in
    SwingParams.canonical_urls), else the raw column."""
    return canonical_url(F.col("url")) if params.canonical_urls else F.col("url")


def pages_to_bucketed(
    pages: DataFrame, params: SwingParams, *, with_digest: bool = False
) -> DataFrame:
    """Project + derive (host, bucket_idx) + per-row scalar features;
    `html` AND `text` are pruned from everything downstream — only
    numerics (plus the 32-char digest when content dedup is on) flow
    past this narrow projection."""
    d = params.delta_seconds
    extra = [content_digest().alias("digest")] if with_digest else []
    return pages.select(
        host_of(F.col("url")).alias("host"),
        (F.floor(F.unix_timestamp("warc_ts") / d)).cast("long").alias("bucket_idx"),
        "url",
        "warc_ts",
        *extra,
        *[c.alias(k) for k, c in _row_features().items()],
    )


def feature_vector() -> Column:
    """The G-wide per-unit feature array over the _partials() sums —
    the one definition both series units (Δ-bucket and session) pack."""
    n = F.col("n_docs").cast("double")
    feats = [
        n,
        F.col("sum_len") / n,
        F.col("n_en") / n,
        F.col("n_de") / n,
        F.col("n_fr") / n,
        F.col("n_es") / n,
        F.col("n_zz") / n,
        F.col("sum_tokens") / n,
        F.col("sum_digit_ratio") / n,
        F.col("n_long") / n,
    ]
    return F.array(*[f.cast("double") for f in feats])


def _finalize(partials: DataFrame, params: SwingParams) -> DataFrame:
    """Partials -> G-wide feature array + bucket timestamp."""
    d = params.delta_seconds
    return partials.select(
        "host",
        "bucket_idx",
        F.timestamp_seconds(F.col("bucket_idx") * d).alias("bucket_ts"),
        feature_vector().alias("features"),
    )


def host_bucket_features(
    pages: DataFrame, params: SwingParams, *, salted: bool = False
) -> DataFrame:
    """(host, bucket_idx, bucket_ts, features: array<double>[G])."""
    from swingstream.operators.cleaning import drop_incomplete

    # P2 (reference: raw_data.dropna() at load): rows missing the key,
    # event time, or payload cannot be bucketed — IsNotNull filters that
    # push down to the scan
    pages = drop_incomplete(pages, subset=["url", "warc_ts", "text"])
    if params.canonical_urls:
        # streaming twin does the same rewrite at its narrow projection:
        # dedup key, host, and salt all read the canonical identity
        from swingstream.functions.textfns import canonical_url

        pages = pages.withColumn("url", canonical_url(F.col("url")))
    # project to numerics FIRST, dedup after: the dedup exchange then
    # shuffles ~10 scalars per row instead of the full text payload
    rows = pages_to_bucketed(pages, params, with_digest=params.dedup_content)
    if params.dedup_content:
        # content dedup subsumes transport dedup: identical (url, warc_ts)
        # redeliveries share (host, digest, bucket) by construction.
        # Streaming twin: dropDuplicatesWithinWatermark on the same key.
        rows = rows.dropDuplicates(["host", "digest", "bucket_idx"]).drop("digest")
    else:
        rows = deduplicate_pages(rows)
    if not salted:
        partials = rows.groupBy("host", "bucket_idx").agg(
            *[a.alias(k) for k, a in _partials().items()]
        )
    else:
        # T11: hot-host salting — stage 1 fans a hot (host, bucket) key
        # over n_salts reducers keyed by url-hash; stage 2 combines the
        # algebraic partials.  url-hash salting keeps count_distinct(url)
        # exact (a url occurs in exactly one salt bucket).
        salted_rows = rows.withColumn(
            "salt", F.pmod(F.xxhash64("url"), F.lit(params.n_salts))
        )
        stage1 = salted_rows.groupBy("host", "bucket_idx", "salt").agg(
            *[a.alias(k) for k, a in _partials().items()]
        )
        partials = stage1.groupBy("host", "bucket_idx").agg(
            *[F.sum(k).alias(k) for k in _partials()]
        )
    return _finalize(partials, params).withColumnRenamed("host", "group_key")


def densify_buckets(features: DataFrame, params: SwingParams) -> DataFrame:
    """Fill missing (group_key, bucket) slots with zero-vectors, ONLY
    within reach of a real bucket b: [b - (w + max_lag - 1), b + (w - 1)],
    clamped to the group's [lo, hi] — the slots a window that
    operators.scoring.window_designs scores can reference.  Overlapping
    reaches merge in a gaps-and-islands pass (two window functions + one
    explode, no driver loop).  Output carries ``is_real``.  Scoring does
    not need this step: window_designs zero-fills gaps itself and drops
    ``is_real = False`` rows; this is the relational twin of that fill.
    """
    from pyspark.sql import Window as W

    g = params.n_features
    d = params.delta_seconds
    reach_back = params.window_width + params.max_lag - 1
    reach_fwd = params.window_width - 1
    span = features.groupBy("group_key").agg(
        F.min("bucket_idx").alias("lo"), F.max("bucket_idx").alias("hi")
    )
    reach = (
        features.select("group_key", "bucket_idx")
        .join(span, "group_key")
        .select(
            "group_key",
            "lo",
            "hi",
            F.greatest(F.col("bucket_idx") - reach_back, F.col("lo")).alias("start"),
            F.least(F.col("bucket_idx") + reach_fwd, F.col("hi")).alias("end"),
        )
    )
    # gaps-and-islands: merge overlapping/adjacent [start, end] intervals
    ordered = W.partitionBy("group_key").orderBy("start", "end")
    run = (
        reach.withColumn(
            "prev_max_end",
            F.max("end").over(ordered.rowsBetween(W.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            (F.col("prev_max_end").isNull()
             | (F.col("start") > F.col("prev_max_end") + 1)).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(ordered.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    islands = run.groupBy("group_key", "island").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )
    slots = islands.select(
        "group_key", F.explode(F.sequence("start", "end")).alias("bucket_idx")
    )
    zero = F.array(*[F.lit(0.0)] * g)
    return (
        slots.join(features, ["group_key", "bucket_idx"], "left")
        .select(
            "group_key",
            "bucket_idx",
            F.timestamp_seconds(F.col("bucket_idx") * d).alias("bucket_ts"),
            F.col("features").isNotNull().alias("is_real"),
            F.coalesce("features", zero).alias("features"),
        )
    )
