"""Unit tests for swingstream/operators/decontam.py — benchmark
decontamination (n-gram overlap vs an eval set).  The contract query
q_docs_decontam hash-verifies the relational remainder against DuckDB
on the driver tables; these tests pin the semantics on constructed
cases where the expected overlap is hand-checkable."""

from __future__ import annotations

import pandas as pd

from swingstream.operators.decontam import (
    decontaminate,
    eval_digest_set,
    ngram_digest_table,
)

EVAL_SENT = "the capital of france is paris and the capital of italy is rome"


def _docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                # contains the full eval sentence verbatim -> many hits
                f"trivia dump: {EVAL_SENT} end of dump",
                # re-cased copy of a 8-token eval window -> still a hit
                "The Capital Of France Is Paris And The train leaves",
                # clean doc, no 8-token overlap
                "completely unrelated text about gardening and soil quality "
                "with many words that never appear in the benchmark",
                # shares tokens but no 8-token window
                "paris france italy rome capital capital of of the the",
                # shorter than n -> cannot be contaminated
                "tiny doc",
            ],
        }
    )
    return spark.createDataFrame(pdf)


def _eval(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [EVAL_SENT]})
    )


def test_decontaminate_flags_overlapping_docs(spark):
    out = (
        decontaminate(_docs(spark), _eval(spark), n=8)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    # eval sentence has 13 tokens -> 6 distinct 8-gram windows
    assert out.loc[0, "n_contaminated_ngrams"] == 6
    assert bool(out.loc[0, "contaminated"])
    # the re-cased copy shares exactly the first window (case-folded)
    assert out.loc[1, "n_contaminated_ngrams"] == 1
    assert bool(out.loc[1, "contaminated"])
    assert out.loc[2, "n_contaminated_ngrams"] == 0
    assert out.loc[3, "n_contaminated_ngrams"] == 0
    assert out.loc[4, "n_contaminated_ngrams"] == 0
    assert not out.loc[2:, "contaminated"].any()
    # every input doc gets a verdict row, hit or not
    assert len(out) == 5


def test_decontaminate_punct_normalization_catches_repunctuated_leak(spark):
    """normalize='punct' (GPT-3 appendix C): a re-punctuated copy of an
    eval window ("the capital, of france... is PARIS!") shares no
    whitespace-token 8-gram with the eval set, but after punctuation
    stripping it is a verbatim leak — punct mode must flag what simple
    mode misses, and stay identical on punctuation-free docs."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [
            # punctuated copy of the first 8 eval tokens
            "the capital, of france... is PARIS! and the",
            "clean text about gardening and soil and compost heaps today",
        ],
    }))
    simple = decontaminate(docs, _eval(spark), n=8).orderBy("doc_id").toPandas()
    punct = decontaminate(
        docs, _eval(spark), n=8, normalize="punct"
    ).orderBy("doc_id").toPandas()
    assert simple["n_contaminated_ngrams"].tolist() == [0, 0]
    assert punct["n_contaminated_ngrams"].tolist() == [1, 0]
    assert punct["contaminated"].tolist() == [True, False]


def test_decontaminate_rejects_unknown_normalize(spark):
    import pytest

    with pytest.raises(ValueError, match="normalize"):
        decontaminate(_docs(spark), _eval(spark), n=8, normalize="unicode")


def test_decontaminate_min_hits_threshold(spark):
    out = (
        decontaminate(_docs(spark), _eval(spark), n=8, min_hits=2)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out.loc[0, "contaminated"])  # 6 >= 2
    assert not bool(out.loc[1, "contaminated"])  # 1 < 2


def test_digest_tables_are_distinct_per_doc(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b a b a b a b a b"]})
    )
    # repeated phrase inside one doc counts once per distinct window
    dg = ngram_digest_table(docs, n=2).toPandas()
    assert len(dg) == 2  # "a b" and "b a"
    eg = eval_digest_set(docs, n=2).toPandas()
    assert len(eg) == 2


def test_decontaminate_plan_broadcasts_eval_and_stays_jvm_side(spark):
    from swingstream.plans.explain import explain_str, has_broadcast_join

    df = decontaminate(_docs(spark), _eval(spark), n=8)
    assert has_broadcast_join(df)
    assert "Python" not in explain_str(df, "simple")
