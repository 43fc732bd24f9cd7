"""Unit tests for swingstream/operators/textquality.py — the Gopher-style
repetition gates, boilerplate n-gram mining, and PII scrub.

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


def test_single_pass_gate_reuses_annotation(spark):
    """r5 advice: a gated+quarantined micro-batch must pay the annotation
    (explode + two aggregations + join) ONCE.  quality_annotate is
    idempotent on pre-annotated input, so gate and rejections over one
    persisted annotated frame both plan as a cache scan — no second
    repetition_stats subtree (no Generate/explode node) in either plan."""
    from swingstream.operators.textquality import (
        quality_annotate,
        quality_gate,
        quality_rejections,
    )
    from swingstream.plans.explain import explain_str

    pdf = pd.DataFrame(
        {"doc_id": range(4),
         "text": ["spam spam spam spam spam", "a fine unique document here",
                  "x", "another perfectly ordinary text"]}
    )
    docs = spark.createDataFrame(pdf)
    ann = quality_annotate(docs, min_tokens=2).persist()
    try:
        ann.count()
        adm = quality_gate(ann, min_tokens=2)
        rej = quality_rejections(ann, min_tokens=2)
        for df in (adm, rej):
            plan = explain_str(df, "simple")
            assert "InMemoryTableScan" in plan, plan
            # everything ABOVE the cache boundary must be re-annotation-free
            # (the InMemoryRelation prints its own build plan below it —
            # that subtree is the cached one and never re-executes)
            live = plan.split("InMemoryRelation", 1)[0]
            assert "Generate" not in live, plan  # explode = re-annotation
        got = sorted(adm.toPandas()["doc_id"]) + sorted(rej.toPandas()["doc_id"])
        assert got == [1, 3, 0, 2]
        # admitted + rejected partition the input exactly
        assert (rej.toPandas()["reject_reason"].isin(
            ["too_few_tokens", "top_token_frac", "dup_bigram_frac"]).all())
        # r6 advice: idempotence is keyed on the threshold metadata, not
        # bare column presence — different thresholds must raise, never
        # silently gate on the stale verdicts
        with pytest.raises(ValueError, match="different thresholds"):
            quality_gate(ann, min_tokens=3)
    finally:
        ann.unpersist()


def test_quality_annotate_rejects_foreign_reject_reason_column(spark):
    """Source data that coincidentally carries a reject_reason column
    (no quality_annotate metadata) must raise, not pass through as if
    annotated."""
    from swingstream.operators.textquality import quality_annotate

    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["hello there"], "reject_reason": ["spam"]}
    ))
    with pytest.raises(ValueError, match="did not produce"):
        quality_annotate(docs)


def test_quality_annotate_metadata_survives_parquet(spark, tmp_path):
    """The threshold pin must survive a parquet round trip, so a
    persisted annotated corpus re-gates cheaply across jobs."""
    from swingstream.operators.textquality import quality_annotate, quality_gate

    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["one fine document", "x"]}
    ))
    p = str(tmp_path / "ann")
    quality_annotate(docs, min_tokens=2).write.parquet(p)
    back = spark.read.parquet(p)
    # same thresholds: passes through (one row rejected at the gate)
    assert quality_gate(back, min_tokens=2).count() == 1
    with pytest.raises(ValueError, match="different thresholds"):
        quality_gate(back, min_tokens=4)


def test_quality_gate_mask_patterns_extends_to_canonical_set(spark):
    """mask_patterns lets the gate mask the full canonical PII set
    (adds IPv4) while the default stays the golden-pinned email/phone
    pair."""
    import pandas as pd

    from swingstream.operators.pii import PII_PATTERNS
    from swingstream.operators.textquality import quality_gate

    pdf = pd.DataFrame(
        {
            "doc_id": [0],
            "text": [
                "a perfectly ordinary document about mail a@b.io and "
                "server 10.0.0.1 with plenty of normal words to pass "
                "every quality threshold in the annotate stage today"
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    legacy = quality_gate(df).collect()[0].text
    assert "|||EMAIL|||" not in legacy and "<EMAIL>" in legacy
    assert "10.0.0.1" in legacy  # legacy pair does not mask IPs
    full = quality_gate(
        df, mask_patterns=[(p, ph) for _, p, ph in PII_PATTERNS]
    ).collect()[0].text
    assert "|||EMAIL|||" in full and "|||IP|||" in full
    assert "10.0.0.1" not in full
