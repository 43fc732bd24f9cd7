"""Sparse edge emission + closed-form rank reconstruction == dense A4."""

from __future__ import annotations

import dataclasses

import numpy as np

from swingstream.config import SwingParams
from swingstream.fixtures import gen_series, plant_network
from swingstream.pipeline import series_from_wide, swing_edges
from swingstream.operators.ranking import rank_edges, rank_edges_sparse

PARAMS = SwingParams(window_width=8, step_size=1, min_lag=1, max_lag=2,
                     method="lasso", alpha=0.05)


def _series_with_dead_window(spark):
    net = plant_network(n_features=6, n_edges=6, seed=11)
    wide, _ = gen_series(n_features=6, n_buckets=18, n_replicates=2, seed=11,
                         net=net)
    # zero out a stretch of buckets => some windows are all-constant
    gcols = [f"g{i}" for i in range(1, 7)]
    wide.loc[wide["bucket_idx"].between(3, 16), gcols] = (
        wide.loc[wide["bucket_idx"].between(3, 16), gcols] * 0.0
    )
    return series_from_wide(spark.createDataFrame(wide), gcols), tuple(gcols)


def test_sparse_rank_equals_dense(spark):
    series, names = _series_with_dead_window(spark)
    dense_edges = swing_edges(series, PARAMS, feature_names=names)
    sparse_params = dataclasses.replace(PARAMS, emit_zero_edges=False)
    sparse_edges = swing_edges(series, sparse_params, feature_names=names)

    n_dense = dense_edges.count()
    n_sparse = sparse_edges.count()
    assert n_sparse < n_dense, "sparse emission must drop rows"

    p6 = dataclasses.replace(PARAMS, feature_names=names)
    dense = rank_edges(dense_edges, p6).toPandas()
    sparse = rank_edges_sparse(sparse_edges, p6).toPandas()
    # every pair present with identical mean_rank and identical ordering
    d = dense.set_index(["parent", "child"])["mean_rank"].sort_index()
    s = sparse.set_index(["parent", "child"])["mean_rank"].sort_index()
    assert len(d) == len(s) == 30  # 6*5 pairs
    np.testing.assert_allclose(d.to_numpy(), s.to_numpy(), rtol=0, atol=1e-9)


def test_sparse_emits_window_sentinels(spark):
    from swingstream.operators.scoring import WINDOW_SENTINEL

    series, names = _series_with_dead_window(spark)
    sparse_params = dataclasses.replace(PARAMS, emit_zero_edges=False,
                                        feature_names=names)
    edges = swing_edges(series, sparse_params, feature_names=names).toPandas()
    assert (edges["parent"] == WINDOW_SENTINEL).any(), "dead windows must leave a marker"
