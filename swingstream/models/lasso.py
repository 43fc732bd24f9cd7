"""Numpy Lasso via matrix FISTA + deterministic CV alpha search.

Re-implements the *semantics* of the reference's Lasso window scorer
[ref: Swing/LassoWindow.py::fit_window, get_coeffs, cv_select_alpha,
get_max_alpha ~L?] (SURVEY.md §2.9 U6) from scratch on numpy — the
sandbox has no sklearn and this must run inside Arrow UDF workers.

Objective (sklearn convention, so coefficients are comparable):

    min_beta  (1 / (2 n)) * ||y - X beta||^2  +  alpha * ||beta||_1

Design-matrix standardization is done *inside* the fit (per SURVEY.md
§2.2 P4 pin: per-design-matrix standardization, matching Lasso
preconditioning): columns of X are z-scored, y is centered.  Importance
of a feature = |beta| on the standardized scale.

One solver, ``lasso_fista``, fits every response of a shared design in
one matrix-valued loop: a window's G targets, a CV fold's whole
(target, alpha) grid, or one bootstrap / permutation refit.

Everything is deterministic: no RNG in the solver; CV folds are
contiguous deterministic splits.
"""

from __future__ import annotations

import numpy as np

# CV fits: looser than the importance fit, the held-out MSE only ranks
# the grid
CV_MAX_ITER = 200
CV_TOL = 1e-6


def _standardize(X: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd = np.where(sd > 0.0, sd, 1.0)  # constant columns -> zero after centering
    return (X - mu) / sd, mu, sd


def lasso_fista(
    X: np.ndarray,
    Y: np.ndarray,
    alpha: float | np.ndarray,
    *,
    max_iter: int = 400,
    tol: float = 1e-7,
) -> np.ndarray:
    """FISTA on the Gram formulation over MANY responses sharing one
    design: Y is (n, m), returns (p, m) betas on the standardized scale.

    ``alpha`` is a scalar or an (m,) vector of per-column thresholds.
    Sharing the Gram/Lipschitz work and running one matrix-valued loop
    amortizes numpy call overhead across all m fits.  A column of Y
    that centres to all zeros (a constant target) has a zero ``C``
    column, so its betas stay zero.
    """
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    n, p = X.shape
    m = Y.shape[1]
    Xs, _, _ = _standardize(X)
    Yc = Y - Y.mean(axis=0)
    G = Xs.T @ Xs / n
    C = Xs.T @ Yc / n  # (p, m)
    L = float(np.linalg.eigvalsh(G)[-1]) + 1e-12
    # x - grad/L == A@x + CL with A = I - G/L  (one matmul per iter)
    A = np.eye(p) - G / L
    CL = C / L
    thr = alpha / L
    B = np.zeros((p, m))
    Z = B.copy()
    t = 1.0
    for it in range(max_iter):
        W = A @ Z + CL
        Bn = np.sign(W) * np.maximum(np.abs(W) - thr, 0.0)
        tn = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
        mom = (t - 1.0) / tn
        Z = (1.0 + mom) * Bn - mom * B
        # tol check amortized — noise targets never converge anyway
        if it % 16 == 15 and np.abs(Bn - B).max() < tol:
            return Bn
        B, t = Bn, tn
    return B


def max_alpha(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Per column of Y ((n, m) or (n,)), the smallest alpha with an
    all-zero solution: max |X_s^T y_c| / n (1.0 where that is 0).

    Mirrors the reference's bracket search for the upper alpha bound
    [ref: Swing/LassoWindow.py::get_max_alpha ~L?] — ours is the exact
    closed form rather than a bisection.
    """
    Xs, _, _ = _standardize(np.asarray(X, dtype=np.float64))
    Y = np.asarray(Y, dtype=np.float64)
    Y = Y.reshape(len(Y), -1)
    if Xs.size == 0:
        return np.ones(Y.shape[1])
    amax = np.abs(Xs.T @ (Y - Y.mean(axis=0))).max(axis=0) / len(Y)
    return np.where(amax > 0.0, amax, 1.0)


def cv_select_alpha(
    X: np.ndarray,
    Y: np.ndarray,
    *,
    n_alphas: int = 10,
    n_folds: int = 3,
    eps: float = 1e-3,
) -> np.ndarray:
    """Deterministic k-fold CV over each column's log-spaced alpha grid;
    returns one alpha per column of Y ((n, m) or (n,)).

    Semantics of [ref: Swing/LassoWindow.py::cv_select_alpha ~L?]:
    pick the alpha minimizing mean held-out MSE.  Folds are contiguous
    row blocks (no shuffling) so the choice is reproducible across
    retries and parallelism.  Each fold is one ``lasso_fista`` call over
    all m × n_alphas (target, alpha) columns.
    """
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Y = Y.reshape(len(Y), -1)
    n, m = Y.shape
    amax = max_alpha(X, Y)
    if n < n_folds + 1:
        return amax * 0.1
    alphas = np.geomspace(amax, amax * eps, n_alphas, axis=1)  # rows descending
    Yg = np.repeat(Y, n_alphas, axis=1)  # column j*n_alphas + a
    bounds = np.linspace(0, n, n_folds + 1).astype(int)
    mse = np.zeros(m * n_alphas)
    for f in range(n_folds):
        mask = np.ones(n, dtype=bool)
        mask[bounds[f]:bounds[f + 1]] = False
        Xtr, Ytr = X[mask], Yg[mask]
        betas = lasso_fista(
            Xtr, Ytr, alphas.ravel(), max_iter=CV_MAX_ITER, tol=CV_TOL
        )
        _, mu, sd = _standardize(Xtr)
        preds = ((X[~mask] - mu) / sd) @ betas + Ytr.mean(axis=0)
        mse += ((Yg[~mask] - preds) ** 2).mean(axis=0)
    # ties resolve to the largest (sparsest) alpha — grids are descending
    best = np.argmin(np.round(mse / n_folds, 12).reshape(m, n_alphas), axis=1)
    return alphas[np.arange(m), best]


def bootstrap_stability(
    X: np.ndarray,
    y: np.ndarray,
    alpha: float,
    *,
    n_bootstraps: int = 20,
    noise: float = 0.05,
    seed: int = 0,
) -> np.ndarray:
    """Fraction of noisy resampled fits where each coefficient is nonzero.

    Semantics of [ref: Swing/LassoWindow.py::run_bootstrap(n_bootstraps,
    noise) ~L?] (SURVEY.md §2.4 A3): resample rows with replacement, add
    multiplicative uniform noise in [1-noise, 1+noise], refit at the
    target's ``alpha``, count nonzero support.  Seeded => deterministic.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rng = np.random.default_rng(seed)
    n, p = X.shape
    hits = np.zeros(p)
    for _ in range(n_bootstraps):
        idx = rng.integers(0, n, size=n)
        jitter = rng.uniform(1.0 - noise, 1.0 + noise, size=(n, p))
        beta = lasso_fista(X[idx] * jitter, y[idx, None], alpha, max_iter=200)
        hits += (np.abs(beta[:, 0]) > 1e-12).astype(float)
    return hits / max(n_bootstraps, 1)
