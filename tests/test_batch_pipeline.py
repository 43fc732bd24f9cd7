"""t2/t5: batch SWING pipeline — feature agg correctness, salted==unsalted,
planted-lagged-edge recovery (AUROC floor), determinism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from swingstream.config import SwingParams
from swingstream.fixtures import gen_series, plant_network
from swingstream.operators.evaluate import aupr, auroc
from swingstream.operators.features import densify_buckets, host_bucket_features
from swingstream.pipeline import (
    series_from_wide,
    swing_batch,
)
from swingstream.sources.pages import pages_from_pandas

PARAMS = SwingParams(window_width=10, step_size=1, min_lag=1, max_lag=3,
                     method="lasso", alpha=None)


@pytest.fixture(scope="module")
def spark_pages(spark, pages_df):
    return pages_from_pandas(spark, pages_df)


def test_features_match_pandas_oracle(spark, spark_pages, pages_df):
    feats = host_bucket_features(spark_pages, PARAMS, salted=False).toPandas()
    # pandas oracle on the deduped fixture
    pdf = pages_df.drop_duplicates(subset=["url", "warc_ts"]).copy()
    pdf["host"] = pdf["url"].str.extract(r"https://([^/]+)/")[0]
    pdf["bucket_idx"] = (
        pdf["warc_ts"].astype("int64") // 10**6 // PARAMS.delta_seconds
    )
    g = pdf.groupby(["host", "bucket_idx"])
    oracle = pd.DataFrame(
        {
            "n": g.size(),
            "mean_len": g["text"].apply(lambda s: s.str.len().mean()),
            "frac_en": g["lang"].apply(lambda s: (s == "en").mean()),
            "frac_long": g["text"].apply(
                lambda s: (s.str.split().str.len() >= 20).mean()
            ),
        }
    ).reset_index()
    got = feats.set_index(["group_key", "bucket_idx"])
    for _, row in oracle.iterrows():
        f = got.loc[(row["host"], row["bucket_idx"]), "features"]
        assert f[0] == row["n"]
        assert abs(f[1] - row["mean_len"]) < 1e-9
        assert abs(f[2] - row["frac_en"]) < 1e-9
        assert abs(f[9] - row["frac_long"]) < 1e-9


def test_salted_equals_unsalted(spark, spark_pages):
    a = host_bucket_features(spark_pages, PARAMS, salted=False)
    b = host_bucket_features(spark_pages, PARAMS, salted=True)
    pa = a.toPandas().set_index(["group_key", "bucket_idx"]).sort_index()
    pb = b.toPandas().set_index(["group_key", "bucket_idx"]).sort_index()
    assert len(pa) == len(pb)
    for (k, fa), (_, fb) in zip(pa["features"].items(), pb["features"].items()):
        np.testing.assert_allclose(list(fa), list(fb), rtol=1e-12, err_msg=str(k))


def test_densify_fills_gaps(spark, spark_pages):
    feats = host_bucket_features(spark_pages, PARAMS)
    dense = densify_buckets(feats, PARAMS).toPandas()
    for _, grp in dense.groupby("group_key"):
        idx = np.sort(grp["bucket_idx"].to_numpy())
        assert (np.diff(idx) == 1).all()


@pytest.mark.parametrize("method", ["lasso", "rf"])
def test_planted_edge_recovery(spark, method):
    """t5: AUROC > 0.9 on the DREAM4-style planted network."""
    net = plant_network(n_features=10, n_edges=12, seed=42)
    wide, _ = gen_series(n_features=10, n_buckets=21, n_replicates=5,
                         noise=0.2, seed=42, net=net)
    names = tuple(f"g{i}" for i in range(1, 11))
    series = series_from_wide(spark.createDataFrame(wide), list(names))
    params = SwingParams(window_width=10, step_size=1, min_lag=1, max_lag=3,
                         method=method, alpha=None, n_trees=60)
    ranked = swing_batch(series, params, feature_names=names)
    gold = spark.createDataFrame(net.gold_edges(list(names)))
    score = auroc(ranked, gold)
    assert score > 0.9, f"{method} AUROC={score}"
    assert aupr(ranked, gold) > 0.5


def test_pipeline_deterministic(spark):
    net = plant_network(n_features=6, n_edges=6, seed=7)
    wide, _ = gen_series(n_features=6, n_buckets=15, n_replicates=3, seed=7, net=net)
    names = tuple(f"g{i}" for i in range(1, 7))
    series = series_from_wide(spark.createDataFrame(wide), list(names))
    params = SwingParams(window_width=8, min_lag=1, max_lag=2, method="lasso",
                         alpha=0.05)
    a = swing_batch(series, params, feature_names=names).toPandas()
    b = swing_batch(series, params, feature_names=names).toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert list(a.columns) == ["parent", "child", "mean_rank", "mean_importance",
                               "n_windows"]
    assert (a["mean_rank"].diff().dropna() >= 0).all()


def test_trapezoid_distributed_matches_numpy(spark):
    """r5: _trapezoid was rebuilt as per-range-partition interior areas +
    driver-stitched boundary segments (<= n_parts aggregate rows).  Pin
    exactness against a numpy reference on a multi-partition curve, and
    partition-count invariance (boundary stitching is exact wherever the
    range cuts land)."""
    from swingstream.operators.evaluate import _trapezoid

    rng = np.random.default_rng(0)
    n = 500
    xs = np.cumsum(rng.uniform(0.0, 1.0, n))
    xs /= xs[-1]
    ys = rng.uniform(0.0, 1.0, n)
    pdf = pd.DataFrame(
        {
            "mean_rank": np.arange(n, dtype="float64"),
            "parent": [f"p{i:04d}" for i in range(n)],
            "child": [f"c{i:04d}" for i in range(n)],
            "x": xs,
            "y": ys,
        }
    )
    # reference walk from the implicit origin (0, 0)
    x0 = np.concatenate([[0.0], xs[:-1]])
    y0 = np.concatenate([[0.0], ys[:-1]])
    want = float(np.sum((xs - x0) * (ys + y0) / 2.0))
    df = spark.createDataFrame(pdf).repartition(8)  # scrambled input order
    for n_parts in (1, 7, 64):
        got = _trapezoid(df, "x", "y", n_parts=n_parts)
        assert abs(got - want) < 1e-9, (n_parts, got, want)


def test_eval_path_has_no_global_data_window():
    """r5 guard (VERDICT r4 #2): no data-sized unpartitioned
    Window.orderBy anywhere in the eval module — the only ordered
    unpartitioned window allowed is the one over the <= n_parts-row
    ``_pid`` offsets aggregate in the distributed prefix sum."""
    import inspect
    import re

    from swingstream.operators import evaluate

    src = inspect.getsource(evaluate)
    for m in re.finditer(r"Window\.orderBy\(([^)]*)\)", src):
        assert '"_pid"' in m.group(1), (
            f"unpartitioned data-sized window in eval path: {m.group(0)}"
        )
