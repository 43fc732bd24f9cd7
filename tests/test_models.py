"""t0: numpy regression kernels vs analytic cases + planted-edge recovery."""

from __future__ import annotations

import numpy as np

from swingstream.models.lasso import (
    bootstrap_stability,
    cv_select_alpha,
    lasso_fista,
    max_alpha,
)
from swingstream.models.permutation import normal_sf, permutation_zscores
from swingstream.models.rf import extra_trees_importance


def _toy(n=200, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 6))
    y = 3.0 * X[:, 0] - 2.0 * X[:, 2] + 0.1 * rng.normal(size=n)
    return X, y


def test_lasso_zero_at_max_alpha():
    X, y = _toy()
    a = max_alpha(X, y)
    assert np.allclose(lasso_fista(X, y[:, None], a * 1.0001)[:, 0], 0.0)


def test_lasso_recovers_support():
    X, y = _toy()
    beta = lasso_fista(X, y[:, None], 0.05)[:, 0]
    assert abs(beta[0]) > 1.0 and abs(beta[2]) > 0.5
    others = np.delete(np.abs(beta), [0, 2])
    assert others.max() < 0.1


def test_lasso_matches_ols_at_zero_alpha():
    # alpha=0 => ordinary least squares on standardized X
    rng = np.random.default_rng(1)
    X = rng.normal(size=(300, 4))
    beta_true = np.array([1.0, -2.0, 0.5, 0.0])
    y = X @ beta_true
    beta = lasso_fista(X, y[:, None], 0.0, max_iter=2000, tol=1e-12)[:, 0]
    Xs = (X - X.mean(0)) / X.std(0)
    ols = np.linalg.lstsq(Xs, y - y.mean(), rcond=None)[0]
    assert np.allclose(beta, ols, atol=1e-5)


def test_lasso_kkt_with_per_column_alphas():
    # one call, three targets, three thresholds: every column must meet
    # the Lasso optimality conditions at its own alpha
    X, _ = _toy(n=120, seed=3)
    rng = np.random.default_rng(4)
    Y = np.stack(
        [X[:, 0] - X[:, 1], 2.0 * X[:, 3], X[:, 2] + X[:, 5]], axis=1
    ) + 0.3 * rng.normal(size=(120, 3))
    alphas = np.array([0.01, 0.1, 0.4])
    B = lasso_fista(X, Y, alphas, max_iter=20000, tol=1e-12)
    Xs = (X - X.mean(0)) / X.std(0)
    Gram = Xs.T @ Xs / len(X)
    resid = Xs.T @ (Y - Y.mean(0)) / len(X) - Gram @ B  # c - G beta
    zero = B == 0.0
    assert zero.any() and (~zero).any()
    bound = np.broadcast_to(alphas, B.shape)
    assert (np.abs(resid[zero]) <= bound[zero] + 1e-8).all()
    assert np.allclose(resid[~zero], (bound * np.sign(B))[~zero], atol=1e-8)


def test_cv_alpha_deterministic_and_sane():
    X, y = _toy()
    a1 = cv_select_alpha(X, y)
    a2 = cv_select_alpha(X, y)
    assert a1 == a2
    assert 0 < a1 < max_alpha(X, y)
    # CV alpha should keep the true support
    beta = lasso_fista(X, y[:, None], a1)[:, 0]
    assert abs(beta[0]) > 0.5 and abs(beta[2]) > 0.3


def test_bootstrap_stability_separates_signal():
    X, y = _toy()
    stab = bootstrap_stability(X, y, 0.05, n_bootstraps=15, seed=7)
    assert stab[0] == 1.0 and stab[2] == 1.0
    assert stab[[1, 3, 4, 5]].max() <= 0.6


def test_rf_importance_ranks_signal_features():
    X, y = _toy(n=300)
    imp = extra_trees_importance(X, y, n_trees=40, seed=3)
    assert imp[0] == imp.max()
    assert imp[2] > np.delete(imp, [0, 2]).max()
    # determinism
    imp2 = extra_trees_importance(X, y, n_trees=40, seed=3)
    assert np.array_equal(imp, imp2)


def test_permutation_pvalues():
    X, y = _toy(n=150)
    fit = lambda Xp, yp: np.abs(
        lasso_fista(Xp, yp[:, None], 0.05, max_iter=200)[:, 0]
    )
    obs = fit(X, y)
    z, p = permutation_zscores(X, y, obs, fit, n_permutations=8, seed=11)
    assert p[0] < 0.05 and p[2] < 0.05


def test_normal_sf():
    assert abs(normal_sf(np.array([0.0]))[0] - 0.5) < 1e-12
    assert abs(normal_sf(np.array([1.96]))[0] - 0.0249979) < 1e-4


def test_plsr_vip_ranks_signal():
    from swingstream.models.plsr import plsr_vip

    X, y = _toy(n=200)
    vip = plsr_vip(X, y, n_components=3)
    assert vip[0] == vip.max()
    assert vip[2] > np.delete(vip, [0, 2]).max()
    # determinism
    assert np.array_equal(vip, plsr_vip(X, y, n_components=3))
    # degenerate target
    assert np.allclose(plsr_vip(X, np.zeros(len(y))), 0.0)


def test_bootstrap_reuses_the_importance_alpha(monkeypatch):
    """CV runs once per window, and stability is measured at the alpha
    the importance fit used (params.n_alphas grid)."""
    from swingstream.config import SwingParams
    from swingstream.operators import scoring

    calls = []
    real_cv = scoring.cv_select_alpha

    def counting_cv(*args, **kwargs):
        calls.append(real_cv(*args, **kwargs))
        return calls[-1]

    monkeypatch.setattr(scoring, "cv_select_alpha", counting_cv)
    rng = np.random.default_rng(5)
    names = ["a", "b", "c", "d"]
    X = rng.normal(size=(40, 8))
    Y = np.stack([X[:, 0] + X[:, 5], X[:, 2], -X[:, 7], X[:, 1]], axis=1)
    Y = Y + 0.2 * rng.normal(size=Y.shape)
    params = SwingParams(min_lag=1, max_lag=2, method="lasso", alpha=None,
                         n_alphas=4, n_bootstraps=2)
    out = scoring.score_design("g", 7, None, X, Y, params, names)
    assert len(calls) == 1
    feat = np.tile(np.arange(4), 2)
    want = np.concatenate([
        bootstrap_stability(X, Y[:, j], calls[0][j], n_bootstraps=2,
                            seed=scoring._seed("g", 7, j))[feat != j]
        for j in range(4)
    ])
    assert np.array_equal(out["stability"], want)
