"""Corpus-quality operators a 100-TB training-data pipeline runs after
dedup: intra-document repetition signals, corpus-level boilerplate
phrase mining, and PII detection/masking.

No reference-repo twin exists for these (mount empty; the reference is
a network-inference tool) — they are the standard web-text curation
stages published in the Gopher (Rae et al. 2021, §A1.1 repetition
filters) and CCNet/RefinedWeb pipelines, re-expressed as Catalyst
plans:

* ``repetition_stats`` — per-document duplicate-token/bigram fractions
  (the Gopher "repetition" quality gates).  Explode-based: tokens are
  exploded once, aggregated by (doc_id, token) then doc_id — uniform
  shuffle keys, no per-row quadratic HOFs, window only WITHIN a
  document (bounded partitions), so the shape survives 100× scale-up.
* ``boilerplate_ngrams`` — corpus-wide template-phrase profile: token
  n-grams ranked by document frequency.  One explode + one hash
  aggregate on the n-gram string; top-k compiles to TakeOrderedAndProject
  (no global sort materialization).
* ``pii_scrub`` — email/phone counts + masked text as pure JVM-side
  regexp expressions (whole-stage codegen; no Python in the path).
  The regexes deliberately use the RE2-compatible subset that Java
  regex and DuckDB RE2 evaluate identically, so the oracle can replay
  the masking byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# RE2-compatible subset only (no backrefs/lookarounds): identical
# semantics under Java regex (Spark) and RE2 (DuckDB oracle).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d\- ]{7,}\d"
# email/phone mask chain of both the admission gate and pii_scrub (whose
# output the q_docs_textquality oracle replays)
MASKS = [(EMAIL_RE, "<EMAIL>"), (PHONE_RE, "<PHONE>")]


def _tokens(text: Column) -> Column:
    """Whitespace tokens; empty/blank text yields an empty array (the
    split('') -> [''] artifact is filtered so counts are true zeros)."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1 quality gates):

    * ``n_tokens`` — whitespace token count;
    * ``top_token_frac`` — occurrences of the most frequent token /
      n_tokens (0.0 for empty docs);
    * ``dup_bigram_frac`` — 1 − distinct_bigrams / total_bigrams
      (0.0 when fewer than 2 tokens).

    Shape: one tokenize + explode (outer, so token-less documents keep
    their row) and one read of ``docs``; a lead window PARTITIONED by
    doc_id (documents bound the partition, never the corpus) gives each
    token its successor, then aggregates keyed on (doc_id, token) and
    doc_id — all clustered on doc_id, so one shuffle.  Tokens hold no
    whitespace, so a document's distinct bigrams are the sum over its
    distinct tokens of their distinct successors.
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    per_tok = (
        docs.select(
            id_col,
            F.posexplode_outer(_tokens(F.col(text_col))).alias("pos", "tok"),
        )
        .withColumn("nxt", F.lead("tok").over(w))
        .groupBy(id_col, "tok")
        .agg(
            F.count("tok").alias("c"),
            F.count("nxt").alias("c_next"),
            F.count_distinct("nxt").alias("d_next"),
        )
    )
    n_tokens = F.col("n_tokens")
    n_bigrams = F.col("n_bigrams")
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.max("c").alias("max_c"),
            F.sum("c").alias("n_tokens"),
            F.sum("c_next").alias("n_bigrams"),
            F.sum("d_next").alias("n_distinct_bigrams"),
        )
        .select(
            id_col,
            n_tokens.cast("long").alias("n_tokens"),
            F.when(n_tokens > 0, F.col("max_c") / n_tokens)
            .otherwise(F.lit(0.0))
            .alias("top_token_frac"),
            F.when(
                n_bigrams > 0, 1.0 - F.col("n_distinct_bigrams") / n_bigrams
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate phrase mining: token ``n``-grams that
    appear in at least ``min_docs`` DISTINCT documents, ranked by
    document frequency — the profile a CCNet-style pipeline uses to
    strip template/navigation phrases.  Returns the top ``k`` as
    (ngram, n_docs, n_occurrences), deterministically ordered by
    (n_docs desc, n_occurrences desc, ngram).

    Shape: the n-gram array is built per-row with one bounded HOF over
    the token array (n string concats per token), exploded once, then
    ONE hash aggregate keyed on the n-gram — the same uniform-shuffle
    profile as a word-count; top-k compiles to TakeOrderedAndProject,
    so no global sort ever materializes.
    """
    # materialized tokens + inline gram explode (see dsir's plan
    # discipline note: an inline token expression re-tokenizes per
    # element inside the interpreted gram lambda; a projected gram
    # array trips the inferred generate filter — both measured 2-30x)
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(id_col, _tokens(F.col(text_col)).alias("_toks"))
        .select(id_col, F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count_distinct(id_col).cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("ngram")
        )
        .limit(k)
    )


def quality_gate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_top_token_frac: float = 0.5,
    max_dup_bigram_frac: float = 0.5,
) -> DataFrame:
    """Corpus admission verdict, the curation sink's ``gate_fn``: every
    document plus a ``reject_reason`` column — the FIRST Gopher-style
    repetition gate it trips, in the fixed precedence (too_few_tokens,
    top_token_frac, dup_bigram_frac), or NULL when admitted.  Admitted
    rows have email/phone PII masked in ``text_col``; rejected rows keep
    their text as it arrived.  All other columns pass through unchanged.

    Shape: ``repetition_stats`` (uniform per-doc aggregation) joined back
    on ``id_col`` — no collect, no skewed keys, identical profile per
    micro-batch and per batch."""
    from swingstream.operators.pii import redact

    rep = repetition_stats(docs, text_col=text_col, id_col=id_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_few_tokens"))
        .when(
            F.col("top_token_frac") > max_top_token_frac,
            F.lit("top_token_frac"),
        )
        .when(
            F.col("dup_bigram_frac") > max_dup_bigram_frac,
            F.lit("dup_bigram_frac"),
        )
    )
    text = F.col(text_col)
    return docs.join(
        rep.select(id_col, reason.alias("reject_reason")), [id_col], "inner"
    ).withColumn(
        text_col,
        F.when(
            F.col("reject_reason").isNull(),
            redact(text, MASKS),
        ).otherwise(text),
    )


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII detection + masking: per document, the count of email and
    phone-number matches and the text with both replaced by
    ``<EMAIL>`` / ``<PHONE>`` placeholders (emails masked first; the
    oracle replays the same order).  Pure regexp column expressions —
    JVM-side, whole-stage codegen, embarrassingly parallel; the RE2
    subset keeps Spark and the DuckDB oracle byte-identical.

    Legacy gate-embedded form, schema pinned by the q_docs_textquality
    oracle; the regex engine lives in operators/pii.py (the canonical
    standalone surface with IPv4 + stats is ``pii.pii_redact``)."""
    from swingstream.operators.pii import count_matches, redact

    t = F.col(text_col)
    return docs.select(
        id_col,
        count_matches(t, EMAIL_RE).alias("n_emails"),
        count_matches(t, PHONE_RE).alias("n_phones"),
        redact(t, MASKS).alias("text_masked"),
    )
