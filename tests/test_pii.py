"""Unit tests for swingstream/operators/pii.py — regex-tier PII
redaction.  The contract query q_docs_pii hash-verifies the full
redaction + counts against the DuckDB oracle (RE2); these tests pin the
hand-case semantics, idempotence, plan hygiene, and the Java↔RE2
dialect-intersection claim on adversarial text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swingstream.operators.pii import PII_PATTERNS, pii_redact


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def corpus(spark):
    return _mk(
        spark,
        [
            (0, "contact bob.smith+x@ex-ample.co.uk or 555-123-4567 now", "en"),
            (1, "ip 192.168.1.254 and 10.0.0.1, ph 555 123 4567 / 555.123.4567", "en"),
            (2, "plain text, nothing sensitive here", "de"),
            (3, "edge 1234-567-8901 not a phone; 999.999.999.999 counts as ip", "en"),
            (4, "two mails a@b.io c@d.org and e@f.net", "fr"),
            (5, "", "en"),
        ],
    )


def test_hand_case_redaction_and_counts(corpus):
    out = {r.doc_id: r for r in pii_redact(corpus).collect()}
    assert out[0].text == "contact |||EMAIL||| or |||PHONE||| now"
    assert (out[0].n_email, out[0].n_phone, out[0].n_ipv4) == (1, 1, 0)
    assert out[1].text == "ip |||IP||| and |||IP|||, ph |||PHONE||| / |||PHONE|||"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (0, 2, 2)
    assert out[2].text == "plain text, nothing sensitive here"
    # inside-digit-run boundaries must NOT match; bare 999... quad does
    assert out[3].n_phone == 0 and out[3].n_ipv4 == 1
    assert out[4].n_email == 3 and out[4].text.count("|||EMAIL|||") == 3
    assert out[5].text == ""


def test_idempotent_on_redacted_text(corpus):
    once = pii_redact(corpus).select("doc_id", "text", "lang")
    twice = pii_redact(once)
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b
    # and the second pass finds nothing left to count
    again = twice.agg(
        F.sum("n_email"), F.sum("n_phone"), F.sum("n_ipv4")
    ).collect()[0]
    assert tuple(again) == (0, 0, 0)


def test_counts_taken_on_original_text(spark):
    # an email whose local part looks like a phone: after email
    # redaction the phone substring is gone, but counts must still see
    # the original text (phone inside the email is NOT separately
    # counted because \b...\b fails inside the token? no — counts are
    # independent regexes on the original string, so both fire)
    df = _mk(spark, [(0, "555-123-4567@ex.com", "en")])
    r = pii_redact(df).collect()[0]
    assert r.n_email == 1
    # the phone regex also matches the original local part
    assert r.n_phone == 1
    # replacement order applies email first, so the phone pattern no
    # longer matches anything in the final text
    assert r.text == "|||EMAIL|||"


def test_kinds_subset_and_validation(corpus):
    out = pii_redact(corpus, kinds=("email",)).columns
    assert "n_email" in out and "n_phone" not in out
    with pytest.raises(ValueError):
        pii_redact(corpus, kinds=("email", "ssn"))


def test_plan_is_jvm_only_and_shuffle_free(corpus):
    plan = pii_redact(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure narrow map


def test_placeholders_do_not_match_any_pattern(spark):
    # idempotence precondition: no placeholder is matched by any pattern
    row = " ".join(ph for _, _, ph in PII_PATTERNS)
    df = _mk(spark, [(0, row, "en")])
    r = pii_redact(df).collect()[0]
    assert (r.n_email, r.n_phone, r.n_ipv4) == (0, 0, 0)
    assert r.text == row
