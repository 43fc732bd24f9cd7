"""Unit tests for swingstream/operators/lmscore.py — CCNet-style
unigram LM perplexity scoring + head/middle/tail bucketing.  The
contract query q_docs_lm_ppl hash-verifies the full train→score→bucket
pipeline against DuckDB; these tests pin the hand-computed math, OOV
handling, vocab capping, exact-vs-approx bucket agreement, and plan
hygiene."""

from __future__ import annotations

import math

import pytest

from swingstream.operators.lmscore import (
    NLL_MICRO,
    lm_perplexity_buckets,
    lm_score,
    unigram_lm,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the dog ran", "en"),
        (2, "zx qq glorp", "en"),
        (3, "the the the the", "en"),
        (4, "", "en"),
        (5, "cat dog mat", "zh"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def ref(corpus):
    # train on docs 0 and 1: tokens the×3 cat sat on mat dog ran
    return corpus.where("doc_id < 2")


def test_model_hand_math(ref):
    model, consts = unigram_lm(ref)
    c = consts.collect()[0]
    # total=9 tokens, vocab=7 distinct -> denominator 17
    assert (c.total, c.vocab) == (9, 7)
    m = {r.token: r.nll_micro for r in model.collect()}
    assert m["the"] == int(math.floor(-math.log(4 / 17) * NLL_MICRO + 0.5))
    assert m["cat"] == int(math.floor(-math.log(2 / 17) * NLL_MICRO + 0.5))
    assert c.oov_nll_micro == int(math.floor(-math.log(1 / 17) * NLL_MICRO + 0.5))


def test_score_hand_math_and_oov(corpus, ref):
    out = {r.doc_id: r for r in lm_score(corpus, ref).collect()}
    the = int(math.floor(-math.log(4 / 17) * NLL_MICRO + 0.5))
    oov = int(math.floor(-math.log(1 / 17) * NLL_MICRO + 0.5))
    # doc 3 = "the the the the": sum is exactly 4×nll(the)
    assert out[3].nll_micro_sum == 4 * the
    assert out[3].avg_nll_micro == the
    # doc 2 is all-OOV
    assert out[2].nll_micro_sum == 3 * oov and out[2].avg_nll_micro == oov
    # empty doc scores NULL
    assert out[4].n_tokens is None and out[4].avg_nll_micro is None
    # all-OOV scores strictly worse than any in-vocab doc
    assert out[2].avg_nll_micro > out[0].avg_nll_micro


def test_buckets_exact_order_and_null_tail(corpus, ref):
    out = {
        r.doc_id: r.ppl_bucket
        for r in lm_perplexity_buckets(lm_score(corpus, ref), 3).collect()
    }
    # 6 docs -> ntile(3) puts 2 per bucket; doc 3 (pure "the") is most
    # reference-like, doc 2 (all-OOV) and doc 4 (NULL) are the tail
    assert out[3] == 1
    assert out[2] == 3 and out[4] == 3
    assert set(out.values()) == {1, 2, 3}


def test_vocab_cap_folds_tail_into_oov(corpus, ref):
    # cap at 1 keeps only "the" (count desc); everything else is OOV
    model, consts = unigram_lm(ref, max_vocab=1)
    assert model.count() == 1 and model.collect()[0].token == "the"
    c = consts.collect()[0]
    assert (c.total, c.vocab) == (3, 1)  # capped total, capped vocab
    out = {r.doc_id: r for r in lm_score(corpus, ref, max_vocab=1).collect()}
    oov = int(math.floor(-math.log(1 / 5) * NLL_MICRO + 0.5))
    assert out[2].avg_nll_micro == oov


def test_exact_vs_approx_buckets_agree_at_scale(spark):
    # 3000 docs over a smooth score gradient (OOV fraction i%100 of 200
    # tokens -> ~30-doc tie groups): the approx-percentile cut must
    # agree with ntile on all but the tie groups straddling a boundary
    rows = [
        (
            i,
            ("common " * (200 - i % 100) + f"rare{i} " * (i % 100)).strip(),
            "en",
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ref = spark.createDataFrame(
        [(100000 + j, "common common common", "en") for j in range(10)],
        "doc_id long, text string, lang string",
    )
    s = lm_score(df, ref).persist()
    try:
        e = {r.doc_id: r.ppl_bucket for r in lm_perplexity_buckets(s, 3).collect()}
        a = {
            r.doc_id: r.ppl_bucket
            for r in lm_perplexity_buckets(s, 3, exact=False).collect()
        }
        diff = sum(1 for k in e if e[k] != a[k])
        assert diff / len(e) < 0.05
    finally:
        s.unpersist()


def test_deterministic_across_runs(corpus, ref):
    a = lm_perplexity_buckets(lm_score(corpus, ref), 3).orderBy("doc_id").collect()
    b = lm_perplexity_buckets(lm_score(corpus, ref), 3).orderBy("doc_id").collect()
    assert a == b


def test_plan_jvm_only_and_broadcast_model(corpus, ref):
    plan = (
        lm_score(corpus, ref)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the model joins map-side: its join with doc tokens must broadcast
    assert "BroadcastHashJoin" in plan
    # approx bucket path has no single-partition global window
    s = lm_score(corpus, ref)
    plan2 = (
        lm_perplexity_buckets(s, 3, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan2


def test_empty_reference_raises(spark, corpus):
    # an over-aggressive reference filter must fail loudly, not score
    # the whole corpus NULL
    empty_ref = corpus.where("doc_id < 0")
    with pytest.raises(ValueError, match="no tokens"):
        lm_score(corpus, empty_ref)
