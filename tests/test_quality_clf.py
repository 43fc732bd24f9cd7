"""Unit tests for swingstream/operators/quality_clf.py — CCNet/GPT-3
style hashed linear quality classifier.  The contract query
q_docs_quality_clf hash-verifies the scoring arithmetic against DuckDB;
these pin training determinism, separation on a constructed corpus, and
the JVM-only scoring plan."""

from __future__ import annotations

import numpy as np
import pandas as pd

from swingstream.operators.quality_clf import (
    quality_clf_scores,
    train_quality_classifier,
)

B = 512

GOOD = [
    "the committee published a detailed report on regional water policy",
    "researchers measured the effect of sunlight on plant growth rates",
    "the museum opened a new exhibition about medieval trade routes",
    "engineers tested the bridge design under heavy simulated loads",
]
SPAM = [
    "click here buy now cheap pills casino bonus win win win",
    "free free free click click subscribe now casino jackpot",
    "cheap watches buy now click here lucky winner casino",
    "win big bonus click subscribe cheap cheap pills now",
]


def _df(spark, texts, start=0):
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(start, start + len(texts)), "text": texts}
    ))


def test_classifier_separates_and_is_deterministic(spark):
    pos, neg = _df(spark, GOOD), _df(spark, SPAM, start=100)
    m1 = train_quality_classifier(pos, neg, n_buckets=B, n_iter=150)
    m2 = train_quality_classifier(pos, neg, n_buckets=B, n_iter=150)
    assert np.array_equal(m1.w_micro, m2.w_micro)  # bit-identical re-fit
    assert m1.bias_micro == m2.bias_micro

    held = _df(spark, [
        "the committee measured plant growth near the bridge",  # good-ish
        "click now cheap casino pills win bonus",                # spam-ish
    ], start=200)
    s = quality_clf_scores(held, m1).toPandas().set_index("doc_id")
    assert s.loc[200, "quality_score"] > 0.5 > s.loc[201, "quality_score"]
    # train-set docs are confidently separated
    tr = quality_clf_scores(
        _df(spark, GOOD + SPAM), m1).toPandas()["quality_score"]
    assert tr[:4].min() > 0.6 and tr[4:].max() < 0.4


def test_empty_doc_gets_neutral_bias_score(spark):
    pos, neg = _df(spark, GOOD), _df(spark, SPAM, start=100)
    m = train_quality_classifier(pos, neg, n_buckets=B, n_iter=50)
    s = quality_clf_scores(
        _df(spark, ["   ", "the committee report"]), m
    ).toPandas().set_index("doc_id")
    neutral = np.floor(
        (1.0 / (1.0 + np.exp(-m.bias_micro / 1e6))) * 1e6 + 0.5) / 1e6
    assert s.loc[0, "quality_score"] == neutral


def test_scoring_plan_is_jvm_only_and_broadcasts_weights(spark):
    from swingstream.plans.explain import explain_str, has_broadcast_join

    pos, neg = _df(spark, GOOD), _df(spark, SPAM, start=100)
    m = train_quality_classifier(pos, neg, n_buckets=B, n_iter=20)
    scored = quality_clf_scores(_df(spark, GOOD), m)
    plan = explain_str(scored, "simple")
    assert "Python" not in plan and "ArrowEval" not in plan
    assert has_broadcast_join(scored)


def test_training_sample_is_bounded(spark):
    """max_train_docs caps the driver-side collect regardless of corpus
    size — the 100-TB guard."""
    big = _df(spark, [f"document number {i} about topic {i % 7}"
                      for i in range(300)])
    m = train_quality_classifier(
        big, _df(spark, SPAM, start=1000), n_buckets=B,
        max_train_docs=25, n_iter=5,
    )
    assert m.n_buckets == B  # trained fine on the capped sample
