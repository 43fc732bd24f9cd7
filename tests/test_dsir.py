"""Unit tests for swingstream/operators/dsir.py — DSIR-style importance
resampling (Xie et al. 2023).  The contract query q_docs_dsir
hash-verifies the integer-exact weight arithmetic against DuckDB; these
tests pin semantics on constructed corpora where the preference is
hand-checkable, plus determinism and plan-shape guards."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from swingstream.operators.dsir import (
    bucket_logratio,
    bucket_totals,
    dsir_logweights,
    dsir_select,
    hashed_gram_counts,
)

B = 512


def _corpus(spark):
    """Raw corpus: half cooking-flavored docs, half legal-flavored."""
    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, "simmer the garlic butter sauce then bake "
                            "the bread with rosemary and olive oil"))
        else:
            rows.append((i, "the party of the first part shall indemnify "
                            "the aforementioned counterparty herein"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def _target(spark):
    """Target distribution: cooking text only."""
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": [100, 101],
         "text": ["garlic butter bread baked with olive oil and rosemary",
                  "simmer the sauce then bake until golden"]}
    ))


def test_dsir_weights_prefer_target_like_docs(spark):
    raw = hashed_gram_counts(_corpus(spark), B)
    tgt = hashed_gram_counts(_target(spark), B)
    ratio = bucket_logratio(bucket_totals(tgt), bucket_totals(raw), B)
    w = dsir_logweights(raw, ratio, ids=_corpus(spark)).toPandas()
    w = w.set_index("id")["logw_micro"]
    cooking = [i for i in range(20) if i % 2 == 0]
    legal = [i for i in range(20) if i % 2 == 1]
    # every cooking doc outweighs every legal doc
    assert w[cooking].min() > w[legal].max()


def test_dsir_select_topk_and_gumbel_deterministic(spark):
    docs, tgt = _corpus(spark), _target(spark)
    top = dsir_select(docs, tgt, k=10, n_buckets=B, mode="topk")
    got = sorted(top.toPandas()["doc_id"])
    assert got == [i for i in range(20) if i % 2 == 0]  # the cooking half
    g1 = sorted(dsir_select(docs, tgt, k=10, n_buckets=B,
                            mode="gumbel").toPandas()["doc_id"])
    g2 = sorted(dsir_select(docs, tgt, k=10, n_buckets=B,
                            mode="gumbel").toPandas()["doc_id"])
    assert g1 == g2  # hash-derived noise: reruns bit-identical
    # with a strong signal the gumbel pick still skews heavily cooking
    assert sum(1 for i in g1 if i % 2 == 0) >= 8


def test_dsir_select_threshold_is_pure_filter(spark):
    from swingstream.plans.explain import explain_str

    docs, tgt = _corpus(spark), _target(spark)
    # pick the threshold separating the two halves from the weights
    # themselves (absolute weights are corpus-dependent — a repeated doc
    # inflates q̂ and shifts every weight down)
    raw = hashed_gram_counts(docs, B)
    t = hashed_gram_counts(tgt, B)
    ratio = bucket_logratio(bucket_totals(t), bucket_totals(raw), B)
    w = dsir_logweights(raw, ratio, ids=docs).toPandas().set_index("id")
    thr = int(w.loc[[i for i in range(20) if i % 2 == 0],
                    "logw_micro"].min())
    sel = dsir_select(docs, tgt, k=0, n_buckets=B, mode="topk",
                      threshold_micro=thr)
    got = sorted(sel.toPandas()["doc_id"])
    assert got == [i for i in range(20) if i % 2 == 0]
    # threshold path: no TakeOrderedAndProject, no GLOBAL sort (local
    # per-partition sorts inside the tiny bucket-table SMJ print
    # "..., false, 0"; a global one would print "..., true, 0")
    plan = explain_str(sel, "simple")
    assert "TakeOrderedAndProject" not in plan
    assert ", true, 0" not in plan


def test_dsir_empty_doc_scores_zero_and_mode_validated(spark):
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [0, 1], "text": ["garlic butter sauce", "   "]}
    ))
    raw = hashed_gram_counts(docs, B)
    tgt = hashed_gram_counts(_target(spark), B)
    ratio = bucket_logratio(bucket_totals(tgt), bucket_totals(raw), B)
    w = dsir_logweights(raw, ratio, ids=docs).toPandas().set_index("id")
    assert w.loc[1, "logw_micro"] == 0
    with pytest.raises(ValueError, match="mode"):
        dsir_select(docs, _target(spark), k=1, mode="resample")


def test_dsir_logratio_matches_closed_form(spark):
    """One-bucket-at-a-time check of the smoothed log-ratio against
    numpy math.log on the same integer counts."""
    tgt = spark.createDataFrame(pd.DataFrame(
        {"bucket": [0, 1], "tot": [6, 2]}))
    raw = spark.createDataFrame(pd.DataFrame(
        {"bucket": [0, 2], "tot": [3, 5]}))
    out = bucket_logratio(tgt, raw, n_buckets=4, smoothing=1.0).toPandas()
    out = out.set_index("bucket").sort_index()
    T, R, lam, nb = 8.0, 8.0, 1.0, 4
    def lr(t, r):
        return math.log((t + lam) / (T + lam * nb)) - math.log(
            (r + lam) / (R + lam * nb))
    for b, t, r in [(0, 6, 3), (1, 2, 0), (2, 0, 5)]:
        assert out.loc[b, "logw_micro" if False else "logratio"] == pytest.approx(
            lr(t, r), abs=1e-12)
        assert out.loc[b, "ratio_micro"] == math.floor(lr(t, r) * 1e6 + 0.5)


def test_dsir_hashing_plan_is_jvm_only(spark):
    from swingstream.plans.explain import explain_str

    plan = explain_str(hashed_gram_counts(_corpus(spark), B), "simple")
    assert "Python" not in plan and "ArrowEval" not in plan
