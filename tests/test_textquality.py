"""Unit tests for swingstream/operators/textquality.py — the Gopher-style
repetition gates and the admission verdict built on them, boilerplate
n-gram mining, and PII scrub.

The contract queries (q_docs_textquality / q_docs_boilerplate) hash-verify
these against DuckDB on the driver tables, but that fixture text carries no
real PII and no hand-checkable repetition values — these tests pin the
semantics on constructed edge cases and cross-check the masking regexes
against DuckDB's RE2 engine on adversarial strings (the claim that the
Java-regex and RE2 evaluations agree byte-for-byte is load-bearing for the
oracle)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from swingstream.operators.textquality import (
    EMAIL_RE,
    PHONE_RE,
    boilerplate_ngrams,
    pii_scrub,
    quality_gate,
    repetition_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "a a a a",          # max repetition: 3 bigrams, 1 distinct
                "x y z",            # all distinct
                "",                 # empty
                "   ",              # blank (split artifact must not count)
                "one",              # single token: no bigrams
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_repetition_stats_hand_values(docs):
    out = (
        repetition_stats(docs).orderBy("doc_id").toPandas().set_index("doc_id")
    )
    assert out.loc[0, "n_tokens"] == 4
    assert out.loc[0, "top_token_frac"] == 1.0
    assert out.loc[0, "dup_bigram_frac"] == pytest.approx(2.0 / 3.0)
    assert out.loc[1, "n_tokens"] == 3
    assert out.loc[1, "top_token_frac"] == pytest.approx(1.0 / 3.0)
    assert out.loc[1, "dup_bigram_frac"] == 0.0
    for empty_id in (2, 3):
        assert out.loc[empty_id, "n_tokens"] == 0
        assert out.loc[empty_id, "top_token_frac"] == 0.0
        assert out.loc[empty_id, "dup_bigram_frac"] == 0.0
    assert out.loc[4, "n_tokens"] == 1
    assert out.loc[4, "dup_bigram_frac"] == 0.0


PII_CASES = [
    "plain text with no pii at all",
    "mail a.b+c@x-y.co.uk ok",
    "two bob@ex.com and alice@ex.org emails",
    "adjacent punctuation: bob@ex.com. next",
    "phone +1 555-000-1234 done",
    "bare digits 888 123 4567 run",
    "mixed: carol@ex.net then +44 20-7946 0958 end",
    "too short 1234567 not a phone",
    "",
]


def test_pii_scrub_masks_and_counts(spark):
    pdf = pd.DataFrame({"doc_id": range(len(PII_CASES)), "text": PII_CASES})
    out = (
        pii_scrub(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "n_emails"] == 0 and out.loc[0, "n_phones"] == 0
    assert out.loc[0, "text_masked"] == PII_CASES[0]
    assert out.loc[1, "text_masked"] == "mail <EMAIL> ok"
    assert out.loc[2, "n_emails"] == 2
    assert out.loc[2, "text_masked"] == "two <EMAIL> and <EMAIL> emails"
    assert out.loc[3, "text_masked"] == "adjacent punctuation: <EMAIL>. next"
    assert out.loc[4, "n_phones"] == 1
    assert out.loc[4, "text_masked"] == "phone <PHONE> done"
    assert out.loc[5, "n_phones"] == 1
    assert out.loc[6, "n_emails"] == 1 and out.loc[6, "n_phones"] == 1
    assert out.loc[7, "n_phones"] == 0  # {7,} needs 9+ chars total


def test_pii_regexes_agree_with_re2(spark):
    """Byte-for-byte Spark (Java regex) vs DuckDB (RE2) parity on the
    adversarial strings — the invariant the q_docs_textquality oracle
    leans on."""
    pdf = pd.DataFrame({"doc_id": range(len(PII_CASES)), "text": PII_CASES})
    got = (
        pii_scrub(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.sql(
        f"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                         '{PHONE_RE}', '<PHONE>', 'g') AS text_masked
        FROM t ORDER BY doc_id
        """
    ).df()
    pd.testing.assert_frame_equal(got, want)


BPE_CASES = [
    ("hello world", 2),          # " ?[A-Za-z]+" fuses single spaces
    ("don't stop", 3),           # don / 't / " stop"
    ("x1y", 3),                  # word / number / word splits
    ("a,b!!c", 5),               # punct runs split from words
    ("price: 1234 usd", 4),      # "price" / ":" / " 1234" / " usd"
    ("  double  spaced", 4),     # \s+ runs count once each
    ("", 0),
]


def test_bpe_token_count_hand_values_and_re2_parity(spark):
    """The GPT-2-style pre-tokenizer count: pinned hand values AND
    Java-regex == RE2 parity (the q_docs_textquality oracle embeds the
    same pattern in DuckDB)."""
    from swingstream.functions.textfns import BPE_TOKEN_RE, bpe_token_count

    pdf = pd.DataFrame(
        {"doc_id": range(len(BPE_CASES)), "text": [t for t, _ in BPE_CASES]}
    )
    got = (
        spark.createDataFrame(pdf)
        .select("doc_id", bpe_token_count(F.col("text")).cast("long").alias("n"))
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(got["n"]) == [n for _, n in BPE_CASES]
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.sql(
        "SELECT doc_id, CAST(len(regexp_extract_all(text, '{}')) AS BIGINT) AS n "
        "FROM t ORDER BY doc_id".format(BPE_TOKEN_RE.replace("'", "''"))
    ).df()
    pd.testing.assert_frame_equal(got, want)


def test_boilerplate_ngrams_mines_template_phrase(spark):
    template = "click here to subscribe"
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                f"alpha beta {template} gamma",
                f"{template} delta epsilon",
                f"zeta {template}",
                "unrelated words only here now",
                "to subscribe",  # shorter than n=3: contributes nothing
                f"double {template} and {template} again",
            ],
        }
    )
    out = boilerplate_ngrams(
        spark.createDataFrame(pdf), n=3, min_docs=2, k=10
    ).toPandas()
    # "click here to" / "here to subscribe" appear in 4 docs (doc 5 twice)
    top = out.iloc[0]
    assert top["ngram"] in ("click here to", "here to subscribe")
    assert top["n_docs"] == 4
    assert top["n_occurrences"] == 5
    assert (out["n_docs"] >= 2).all()
    # deterministic total order: (n_docs desc, n_occurrences desc, ngram asc)
    key = list(zip(-out["n_docs"], -out["n_occurrences"], out["ngram"]))
    assert key == sorted(key)


def test_boilerplate_topk_uses_take_ordered(spark):
    """The top-k must compile to TakeOrderedAndProject — a global sort
    materialization over the corpus-wide n-gram table would not survive a
    100x scale-up."""
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "a b c e"]})
    plan = boilerplate_ngrams(spark.createDataFrame(pdf))._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_gate_labels_every_row_and_masks_only_admitted(spark):
    """The gate_fn contract: every input row comes back with a
    reject_reason — the first gate tripped, NULL when admitted — and only
    admitted rows have their PII masked; a rejected row's text stays as
    it arrived, for the quarantine audit."""
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "spam spam spam spam spam spam",
                "mail a@b.io or call +1 555-010-7788 today please",
                "x",
                "spam spam spam spam a@b.io spam spam",
            ],
        }
    )
    got = (
        quality_gate(spark.createDataFrame(pdf), min_tokens=2)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert list(got["reject_reason"]) == [
        "top_token_frac", None, "too_few_tokens", "top_token_frac"
    ]
    assert got.loc[1, "text"] == "mail <EMAIL> or call <PHONE> today please"
    rejected = got["reject_reason"].notna()
    assert list(got.loc[rejected, "text"]) == list(pdf.loc[rejected, "text"])
