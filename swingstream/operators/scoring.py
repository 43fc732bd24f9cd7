"""Per-(group, window) regression scoring — the engine's one grouped-map UDF.

Reference semantics [ref: Swing/Swing.py::fit_windows ~L?] →
[ref: Swing/RFRWindow.py::get_coeffs ~L?] / [ref:
Swing/LassoWindow.py::fit_window ~L?]: for each window, for each target
feature j, regress y = x_j over the window's timepoints (samples pooled
across replicates) on X = all features at lags k in [k_min, k_max];
importance of regulator (i, k) on j = |lasso beta| or RF impurity
decrease.  Optional permutation z-scores [ref:
Window.run_permutation_test ~L?] and Lasso bootstrap stability
[ref: LassoWindow.run_bootstrap ~L?].

Spark form: `groupBy(group_key, win_start).applyInPandas(fit, EDGE_SCHEMA)`
(SURVEY.md §2.4 A1, §2.9 U1/U6).  Arrow moves one array column per lag;
all math is numpy inside the worker.  Determinism pins (§4.3 #1): rows
sorted by (replicate, bucket_idx) before fitting; every random draw
seeded from blake2b(group_key, win_start, target).
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from swingstream.config import SwingParams
from swingstream.models.lasso import bootstrap_stability, cv_select_alpha, lasso_fista
from swingstream.models.permutation import permutation_zscores
from swingstream.models.rf import extra_trees_importance

# marker row emitted for an all-zero window under sparse emission so the
# rank aggregation still counts the window
WINDOW_SENTINEL = "__none__"

EDGE_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("win_start", LongType()),
        StructField("win_start_ts", TimestampType()),
        StructField("parent", StringType()),
        StructField("child", StringType()),
        StructField("lag", IntegerType()),
        StructField("importance", DoubleType()),
        StructField("zscore", DoubleType()),
        StructField("p_value", DoubleType()),
        StructField("stability", DoubleType()),
    ]
)


def _seed(group_key: str, win_start: int, target: int) -> int:
    h = hashlib.blake2b(
        f"{group_key}|{win_start}|{target}".encode(), digest_size=8
    ).digest()
    return int.from_bytes(h, "big")


def fit_design(
    X: np.ndarray,
    y: np.ndarray,
    params: SwingParams,
    seed: int,
    alpha: float | None = None,
) -> np.ndarray:
    """One target's importance vector over the (G*K)-wide lagged design:
    rf, plsr, or the Lasso at the target's ``alpha`` (permutation refits)."""
    if params.method == "rf":
        return extra_trees_importance(
            X, y, n_trees=params.n_trees, max_depth=params.max_depth, seed=seed
        )
    if params.method == "plsr":
        from swingstream.models.plsr import plsr_vip

        return plsr_vip(X, y)
    beta = lasso_fista(X, y[:, None], alpha, max_iter=params.solver_max_iter)
    return np.abs(beta[:, 0])


def score_design(
    group_key: str,
    win_start: int,
    win_start_ts,
    X: np.ndarray,
    Y: np.ndarray,
    params: SwingParams,
    names: list[str],
) -> dict[str, list]:
    """Shared numpy scoring core — the SINGLE implementation both the
    batch applyInPandas path and the streaming applyInPandasWithState
    path call, so batch and stream emit byte-identical edge rows for the
    same design (t3 parity requirement, BASELINE.json exactly-once
    output matching).

    X: (n, G*K) lagged design, column k_idx*G + i = feature i at
    lags[k_idx]; Y: (n, G) responses.
    """
    p = params
    lags = list(p.lags)
    G = len(names)
    K = len(lags)
    # flat hypothesis layout per target: column c = k_idx*G + i
    feat_idx = np.tile(np.arange(G), K)            # i per column
    lag_arr = np.repeat(np.asarray(lags, dtype=np.int32), G)
    parent_arr = np.asarray(names, dtype=object)[feat_idx]
    # Lasso: one alpha per target (fixed, or CV over each target's grid)
    # and one solver call for all G targets of the shared design
    alphas = imps = None
    if p.method == "lasso":
        alphas = (
            np.full(G, p.alpha)
            if p.alpha is not None
            else cv_select_alpha(X, Y, n_alphas=p.n_alphas)
        )
        imps = np.abs(lasso_fista(X, Y, alphas, max_iter=p.solver_max_iter))

    # the blake2b seed feeds rf and the permutation/bootstrap resamplers
    # only — compute it only where it is consumed
    needs_seed = p.method != "lasso" or p.n_permutations > 0 or p.n_bootstraps > 0
    imp_rows, z_rows, p_rows, s_rows, child_rows, masks = [], [], [], [], [], []
    for j in range(G):
        y = Y[:, j]
        seed = _seed(group_key, win_start, j) if needs_seed else 0
        alpha = None if alphas is None else alphas[j]
        if imps is not None:
            imp = imps[:, j]
        elif y.std() == 0.0:
            imp = np.zeros(X.shape[1])
        else:
            imp = fit_design(X, y, p, seed)
        zs = ps = stab = None
        if p.n_permutations > 0 and y.std() > 0.0:
            fitf = lambda Xp, yp: fit_design(Xp, yp, p, seed, alpha)
            zs, ps = permutation_zscores(
                X, y, imp, fitf, n_permutations=p.n_permutations, seed=seed
            )
        if p.n_bootstraps > 0 and p.method == "lasso" and y.std() > 0.0:
            stab = bootstrap_stability(
                X, y, alpha, n_bootstraps=p.n_bootstraps, seed=seed
            )
        mask = feat_idx != j if not p.self_edges else np.ones(G * K, dtype=bool)
        masks.append(mask)
        imp_rows.append(imp[mask])
        z_rows.append(None if zs is None else zs[mask])
        p_rows.append(None if ps is None else ps[mask])
        s_rows.append(None if stab is None else stab[mask])
        child_rows.append(int(mask.sum()))

    n_total = sum(child_rows)

    def opt(rows):
        # r8: the hot fixed-alpha path has NO permutation/bootstrap
        # columns — one nan-fill beats concatenating G per-target fills
        # (identical values either way)
        if all(r is None for r in rows):
            return np.full(n_total, np.nan)
        return np.concatenate(
            [
                r if r is not None else np.full(n, np.nan)
                for r, n in zip(rows, child_rows)
            ]
        )
    out = {
        "group_key": np.full(n_total, group_key, dtype=object),
        "win_start": np.full(n_total, win_start, dtype=np.int64),
        "win_start_ts": [win_start_ts] * n_total,
        "parent": np.concatenate([parent_arr[m] for m in masks]),
        "child": np.concatenate(
            [np.full(n, names[j], dtype=object) for j, n in enumerate(child_rows)]
        ),
        "lag": np.concatenate([lag_arr[m] for m in masks]),
        "importance": opt(imp_rows),
        "zscore": opt(z_rows),
        "p_value": opt(p_rows),
        "stability": opt(s_rows),
    }
    if not p.emit_zero_edges:
        keep = out["importance"] != 0.0
        if not keep.any():
            # window sentinel: rank_edges_sparse still needs to know this
            # window existed (its implicit zeros contribute to mean ranks)
            keep[:1] = True
            out["parent"][0] = WINDOW_SENTINEL
            out["child"][0] = WINDOW_SENTINEL
        out = {k: (v[keep] if isinstance(v, np.ndarray) else
                   [x for x, kk in zip(v, keep) if kk]) for k, v in out.items()}
    return out


def make_fit_fn(
    params: SwingParams, feature_names: tuple[str, ...] | None = None
) -> Callable[[tuple, pd.DataFrame], pd.DataFrame]:
    names = list(feature_names or params.feature_names)
    lags = list(params.lags)
    w = params.window_width
    p = params

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        group_key, win_start = str(key[0]), int(key[1])
        empty = pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in EDGE_SCHEMA.fields}
        )
        # dead-span pin (densify_buckets / state.emit_windows twin): a
        # window whose response rows are ALL zero-filled slots is not a
        # real observation window — emit nothing
        if "is_real" in pdf.columns and not pdf["is_real"].any():
            return empty
        lag_cols = [f"lag_{k}" for k in lags]
        pdf = pdf.sort_values(["replicate", "bucket_idx"], kind="stable")
        mask = pdf[lag_cols].notna().all(axis=1)
        pdf = pdf[mask]
        if len(pdf) == 0:
            return empty
        # complete replicates only: exactly w in-window rows each
        sizes = pdf.groupby("replicate", sort=False)["bucket_idx"].transform("size")
        pdf = pdf[sizes == w]
        if len(pdf) < 3:
            return empty
        start_rows = pdf[pdf["bucket_idx"] == win_start]
        if len(start_rows) == 0:
            return empty
        win_start_ts = start_rows["bucket_ts"].iloc[0]
        Y = np.stack(pdf["features"].to_numpy())  # (n, G)
        X = np.concatenate(
            [np.stack(pdf[c].to_numpy()) for c in lag_cols], axis=1
        )  # (n, G*K); column k_idx*G + i = feature i at lag lags[k_idx]
        out = score_design(group_key, win_start, win_start_ts, X, Y, p, names)
        return pd.DataFrame(out)

    return fit


def score_windows(
    windowed: DataFrame,
    params: SwingParams,
    feature_names: tuple[str, ...] | None = None,
) -> DataFrame:
    """groupBy(group_key, win_start) -> applyInPandas regression scoring."""
    fit = make_fit_fn(params, feature_names)
    return windowed.groupBy("group_key", "win_start").applyInPandas(fit, EDGE_SCHEMA)
