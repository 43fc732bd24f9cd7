"""Benchmark decontamination — the standard training-data curation
stage between dedup and packing: flag training documents that
share long n-grams with an evaluation set, so eval answers don't leak
into the training corpus.

No reference-repo twin exists (mount empty; the reference is a network-
inference tool) — the semantics follow the published practice (GPT-3
appendix C / PaLM / Llama decontamination: 8-13-token n-gram overlap
against the benchmark suite), re-expressed as a Catalyst plan:

* the EVAL side is hashed once to a distinct n-gram digest set —
  benchmark suites are thousands of documents, so this side is tiny
  relative to the corpus and broadcast-able (``broadcast_eval=True``,
  the default; pass False if the eval suite is itself huge);
* the CORPUS side is one bounded higher-order transform per row (the
  same rolling window ``boilerplate_ngrams`` uses), one explode, and
  ONE digest-keyed equi-join + per-doc aggregate — word-count shape:
  uniform shuffle keys, no collect, no Python in the plan.  At 100 TB
  the corpus is touched exactly once.

Digests are ``xxhash64`` over the space-joined lowercased token window
(JVM-side, whole-stage codegen).  The driver oracle replays the
join/aggregate stages from staged digest tables (contract.py
``q_docs_decontam``) — xxhash64 itself is not expressible in DuckDB,
the relational remainder is hash-verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_tokens(text: Column, normalize: str = "simple") -> Column:
    """Normalized token array; blank text -> empty array.

    ``normalize="simple"``: lowercase + whitespace split (re-casing
    can't hide an overlap).  ``normalize="punct"``: the GPT-3
    appendix-C discipline — lowercase, EVERY non-alphanumeric byte
    replaced by a space, then whitespace split — so re-punctuation
    ("the cat, sat." vs "the cat sat") can't hide one either.  The
    punct regex is the RE2-compatible ASCII subset, so the DuckDB
    oracle replays it byte-for-byte (regexp_replace ... 'g')."""
    t = F.lower(text)
    if normalize == "punct":
        t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    elif normalize != "simple":
        raise ValueError(f"normalize must be 'simple' or 'punct': {normalize!r}")
    return F.filter(
        F.split(F.trim(t), r"\s+"), lambda tok: F.length(tok) > 0
    )


def _ngram_strings(toks: Column, n: int) -> Column:
    """All space-joined n-token windows of a token array (empty when the
    doc is shorter than n — a doc that cannot contain the n-gram cannot
    be contaminated by it; the guard also keeps sequence() from
    descending on short docs)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_digest_table(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: str = "simple",
) -> DataFrame:
    """(id, digest): DISTINCT xxhash64 digests of every ``n``-token
    window per document.  Distinct per doc so a repeated phrase inside
    one document counts once toward its contamination score — the
    standard "number of distinct leaked n-grams" metric.

    Plan discipline (see dsir.hashed_gram_counts — measured 6-30x on
    the bench corpus): token array materialized as a column (an inline
    token expression re-tokenizes once per element inside the
    interpreted gram lambda), gram expression exploded inline over the
    attribute, InferFiltersFromGenerate excluded at the session."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            _norm_tokens(F.col(text_col), normalize).alias("_toks"),
        )
        .select(
            "id",
            F.explode(_ngram_strings(F.col("_toks"), n)).alias("_g"),
        )
        .select("id", F.xxhash64("_g").alias("digest"))
        .distinct()
    )


def eval_digest_set(
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    normalize: str = "simple",
) -> DataFrame:
    """The benchmark suite's distinct n-gram digest set — one column
    ``digest``.  Compute once per eval suite and reuse across corpus
    shards; at typical suite sizes (1e3-1e5 docs) this is megabytes.
    Same materialized-tokens + inline-explode discipline as
    ngram_digest_table."""
    return (
        eval_docs.select(
            _norm_tokens(F.col(text_col), normalize).alias("_toks")
        )
        .select(F.explode(_ngram_strings(F.col("_toks"), n)).alias("_g"))
        .select(F.xxhash64("_g").alias("digest"))
        .distinct()
    )


def decontaminate_from_digests(
    ids: DataFrame,
    corpus_digests: DataFrame,
    eval_digests: DataFrame,
    min_hits: int = 1,
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Everything downstream of the hashing: join corpus (id, digest)
    to the eval digest set on the digest key (broadcast when
    ``broadcast_eval``, the normal case — the corpus side is never
    re-keyed or collected), count distinct shared digests per doc, and
    left-join the counts back to the ``ids`` universe.  Split out so
    the driver's staged-parquet oracle (contract.py q_docs_decontam)
    hash-verifies exactly this relational remainder."""
    evals = eval_digests.select("digest")
    if broadcast_eval:
        evals = F.broadcast(evals)
    hits = (
        corpus_digests.join(evals, "digest")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_contaminated_ngrams"))
    )
    return (
        ids.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_ngrams"),
            (
                F.coalesce("n_contaminated_ngrams", F.lit(0)) >= min_hits
            ).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
    normalize: str = "simple",
) -> DataFrame:
    """Per-document contamination verdict against an eval set.

    Returns every input document's id with
    ``n_contaminated_ngrams`` (distinct ``n``-gram digests shared with
    the eval set, 0 for clean docs) and ``contaminated``
    (n_contaminated_ngrams >= ``min_hits``) — the flag a curation
    pipeline filters or routes on.
    """
    corpus = ngram_digest_table(
        docs, n=n, text_col=text_col, id_col=id_col, normalize=normalize
    )
    evals = eval_digest_set(eval_docs, n=n, text_col=text_col,
                            normalize=normalize)
    return decontaminate_from_digests(
        docs, corpus, evals, min_hits=min_hits, id_col=id_col,
        broadcast_eval=broadcast_eval,
    )
