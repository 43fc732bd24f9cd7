"""SWING window scoring: the window rules and the regression core, once
for the batch and the stream.

Reference semantics [ref: Swing/Swing.py::fit_windows ~L?] →
[ref: Swing/RFRWindow.py::get_coeffs ~L?] / [ref:
Swing/LassoWindow.py::fit_window ~L?]: for each window, for each target
feature j, regress y = x_j over the window's timepoints (samples pooled
across replicates) on X = all features at lags k in [k_min, k_max];
importance of regulator (i, k) on j = |lasso beta| or RF impurity
decrease.  Optional permutation z-scores [ref:
Window.run_permutation_test ~L?] and Lasso bootstrap stability
[ref: LassoWindow.run_bootstrap ~L?].

``window_designs`` builds each window's design from per-replicate sparse
buffers and ``score_design`` scores it: the stream passes one host's
buffer (streaming.state.emit_windows), the batch each whole series in
one ``groupBy(group_key).applyInPandas`` group (``score_windows``), so a
bucket crosses the shuffle once (SURVEY.md §2.4 A1, §2.9 U1/U6).
Determinism pins (§4.3 #1): rows sorted by (replicate, bucket_idx)
before fitting; every random draw seeded from blake2b(group_key,
win_start, target).
"""

from __future__ import annotations

import hashlib

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
    """One window's edge rows: the numpy core every window of the batch
    and the stream goes through, after window_designs built its X, the
    (n, G*K) lagged design (column k_idx*G + i = feature i at
    lags[k_idx]), and Y, the (n, G) responses."""
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


def window_designs(
    reps: list[tuple[list[int], list]],
    params: SwingParams,
    after: int | None = None,
) -> tuple[list[tuple[int, int, np.ndarray, np.ndarray]], int | None]:
    """The SWING window rules, once for the batch and the stream.

    ``reps``: one sparse buffer ``(idx, feats)`` per replicate, in
    replicate order, holding REAL buckets only (``idx`` ascending, G
    doubles each).  Window n starts on the step grid (n % s == 0) and
    responds over [n, n + w - 1].  Replicate r, with real buckets in
    [lo_r, hi_r], joins window n iff n - k_max >= lo_r, n + w - 1 <= hi_r
    (completeness) and a real bucket of r lies in the response span (the
    dead-span rule: candidates come from the real buckets, so a dark span
    costs nothing).  Gaps inside a joined span are zero-filled locally;
    the joined rows are pooled replicate-major, and a window with fewer
    than 3 of them is decided but not scored.  Only starts after
    ``after`` (the stream's max_emitted) are considered.

    Returns one ``(n, r0, X, Y)`` per scored window in start order (r0 the
    first pooled replicate, X the (rows, G*K) design with column
    k_idx*G + i = feature i at lags[k_idx], Y the (rows, G) responses),
    and the largest start decided, or None.
    """
    w, s, kmax, lags = params.window_width, params.step_size, params.max_lag, params.lags
    joins: dict[int, list[int]] = {}  # window start -> replicates joining it
    for r, (idx, _) in enumerate(reps):
        if not idx:
            continue
        first, last = idx[0] + kmax, idx[-1] - w + 1
        starts: set[int] = set()
        for b in idx:
            n0 = max(b - w + 1, first)
            starts.update(range(n0 + (-n0) % s, min(b, last) + 1, s))
        for n in starts:
            if after is None or n > after:
                joins.setdefault(n, []).append(r)
    lookups = [dict(zip(idx, feats)) for idx, feats in reps]
    designs = []
    for n in sorted(joins):
        if len(joins[n]) * w < 3:
            continue
        xs, ys = [], []
        for r in joins[n]:
            zero = [0.0] * len(reps[r][1][0])
            block = np.asarray(
                [lookups[r].get(i, zero) for i in range(n - kmax, n + w)],
                dtype=np.float64,
            )
            ys.append(block[kmax:])
            xs.append(np.concatenate([block[kmax - k : kmax - k + w] for k in lags], axis=1))
        designs.append((n, joins[n][0], np.concatenate(xs), np.concatenate(ys)))
    return designs, max(joins, default=None)


def _emit_frame(scored: list[dict[str, list]]) -> pd.DataFrame:
    """ONE DataFrame per group call from the per-window scored dicts,
    its columns concatenated as arrays (r8: 65 ms, against 281 ms for a
    pd.concat of per-window frames, for a 350-window host batch)."""
    if not scored:
        return pd.DataFrame(columns=EDGE_SCHEMA.fieldNames())
    cols: dict[str, object] = {}
    for k in scored[0]:
        vals = [r[k] for r in scored]
        if isinstance(vals[0], np.ndarray):
            cols[k] = np.concatenate(vals)
        else:  # win_start_ts: plain python lists of Timestamps
            cols[k] = [x for v in vals for x in v]
    return pd.DataFrame(cols)


def score_windows(
    series: DataFrame,
    params: SwingParams,
    feature_names: tuple[str, ...] | None = None,
) -> DataFrame:
    """Canonical series -> per-window edge rows, one
    ``groupBy(group_key).applyInPandas`` call per whole series.  Rows
    sorted by (replicate, bucket_idx) feed ``window_designs``, less the
    ``is_real = False`` rows (densify_buckets' filled slots).  win_start_ts
    is the first pooled replicate's start-row bucket_ts, or n·Δ at a gap."""
    names = list(feature_names or params.feature_names)
    d = params.delta_seconds

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if "is_real" in pdf.columns:
            pdf = pdf[pdf["is_real"]]
        pdf = pdf.sort_values(["replicate", "bucket_idx"], kind="stable")
        reps, stamps = [], []
        for _, rep in pdf.groupby("replicate", sort=False):
            idx = rep["bucket_idx"].tolist()
            reps.append((idx, list(rep["features"])))
            stamps.append(dict(zip(idx, rep["bucket_ts"])))
        return _emit_frame([
            score_design(str(key[0]), n,
                         stamps[r].get(n, pd.Timestamp(n * d, unit="s")),
                         X, Y, params, names)
            for n, r, X, Y in window_designs(reps, params)[0]
        ])

    return series.groupBy("group_key").applyInPandas(fit, EDGE_SCHEMA)
