"""Unit tests for swingstream/operators/sampling.py — deterministic
token-budget sampling.  The contract query q_docs_sample hash-verifies
the staged-residue replay against DuckDB; these tests pin the budget
accuracy, the broadcast plan, and the integer threshold arithmetic on
controlled data."""

from __future__ import annotations

import pandas as pd
import pytest

from swingstream.operators.sampling import (
    SAMPLE_K,
    token_budget_sample,
    token_budget_thresholds,
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(4000),
            "lang": [("en", "de", "fr", "zh")[i % 4] for i in range(4000)],
            "n_tok": [50 + (i * 37) % 100 for i in range(4000)],
        }
    )
    return spark.createDataFrame(pdf)


def test_token_budget_thresholds_integer_arithmetic(corpus):
    th = (
        token_budget_thresholds(corpus, ["lang"], "n_tok", budget_per_stratum=10_000)
        .toPandas()
        .set_index("lang")
    )
    pdf = corpus.toPandas()
    for lang, grp in pdf.groupby("lang"):
        tokens = int(grp["n_tok"].sum())
        expected = min(SAMPLE_K, (10_000 * SAMPLE_K) // tokens)
        assert th.loc[lang, "stratum_tokens"] == tokens
        assert th.loc[lang, "threshold_k"] == expected
    # a stratum already under budget keeps everything
    th_all = (
        token_budget_thresholds(corpus, ["lang"], "n_tok",
                                budget_per_stratum=10**9)
        .toPandas()
    )
    assert (th_all["threshold_k"] == SAMPLE_K).all()


def test_token_budget_sample_hits_budget(corpus):
    budget = 10_000
    got = token_budget_sample(corpus, ["lang"], "n_tok", budget).toPandas()
    by_lang = got.groupby("lang")["n_tok"].sum()
    for lang in ("en", "de", "fr", "zh"):
        # expected sampled tokens ≈ budget; 1000 docs/stratum ->
        # sampling noise ~ budget/sqrt(n_sampled); allow ±40%
        assert 0.6 * budget <= by_lang[lang] <= 1.4 * budget, by_lang
    assert "threshold_k" in got.columns


def test_token_budget_sample_broadcasts_thresholds(corpus):
    from swingstream.plans.explain import explain_str, has_broadcast_join

    df = token_budget_sample(corpus, ["lang"], "n_tok", 10_000)
    assert has_broadcast_join(df)
    assert "Python" not in explain_str(df, "simple")
