"""Numpy Lasso via cyclic coordinate descent + deterministic CV alpha search.

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

Everything is deterministic: no RNG in the solver; CV folds are
contiguous deterministic splits.
"""

from __future__ import annotations

import numpy as np


def _standardize(X: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd = np.where(sd > 0.0, sd, 1.0)  # constant columns -> zero after centering
    return (X - mu) / sd, mu, sd


def _cd_gram(
    G: np.ndarray,
    c: np.ndarray,
    alpha: float,
    beta0: np.ndarray,
    max_iter: int,
    tol: float,
) -> np.ndarray:
    """Coordinate descent in the Gram/covariance formulation.

    G = Xs^T Xs / n, c = Xs^T yc / n.  Each coordinate update is an
    O(p) dot instead of O(n) column scans — and a warm start (beta0)
    makes alpha-path / CV fits cheap.
    """
    p = len(c)
    beta = beta0.copy()
    diag = np.clip(np.diag(G).copy(), 1e-12, None)
    Gb = G @ beta

    for _ in range(max_iter):
        max_delta = 0.0
        for j in range(p):
            bj = beta[j]
            rho = c[j] - Gb[j] + diag[j] * bj
            bnew = np.sign(rho) * max(abs(rho) - alpha, 0.0) / diag[j]
            if bnew != bj:
                Gb += G[j] * (bnew - bj)  # G symmetric: row == column view
                beta[j] = bnew
                max_delta = max(max_delta, abs(bnew - bj))
        if max_delta < tol:
            break
    return beta


def lasso_fista(
    X: np.ndarray,
    y: np.ndarray,
    alpha: float,
    *,
    max_iter: int = 400,
    tol: float = 1e-7,
) -> np.ndarray:
    """Fully-vectorized FISTA on the Gram formulation — same convex
    objective (and minimizer, when unique) as ``lasso_cd``, ~10x faster
    inside the per-window scoring UDF because every iteration is a
    handful of O(p)/O(p^2) numpy ops instead of a Python coordinate
    loop.  Deterministic (no RNG); the hot-path solver for importance
    fits (CV alpha search stays on the warm-started CD path)."""
    X = np.asarray(X, dtype=np.float64)
    n, p = X.shape if X.ndim == 2 else (0, 0)
    if n == 0 or p == 0:
        return np.zeros(p)
    G, c = _gram(X, y)
    L = float(np.linalg.eigvalsh(G)[-1]) + 1e-12
    beta = np.zeros(p)
    z = beta.copy()
    t = 1.0
    for _ in range(max_iter):
        grad = G @ z - c
        bn = z - grad / L
        bn = np.sign(bn) * np.maximum(np.abs(bn) - alpha / L, 0.0)
        tn = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
        z = bn + ((t - 1.0) / tn) * (bn - beta)
        if np.abs(bn - beta).max() < tol:
            return bn
        beta, t = bn, tn
    return beta


def _gram(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    Xs, _, _ = _standardize(np.asarray(X, dtype=np.float64))
    yc = np.asarray(y, dtype=np.float64)
    yc = yc - yc.mean()
    n = max(len(yc), 1)
    return Xs.T @ Xs / n, Xs.T @ yc / n


def lasso_cd(
    X: np.ndarray,
    y: np.ndarray,
    alpha: float,
    *,
    max_iter: int = 500,
    tol: float = 1e-7,
) -> np.ndarray:
    """Cyclic coordinate descent on standardized X / centered y.

    Returns beta on the standardized scale (importance = |beta|).
    Closed-form soft-threshold updates in the Gram formulation.
    """
    X = np.asarray(X, dtype=np.float64)
    n, p = X.shape if X.ndim == 2 else (0, 0)
    if n == 0 or p == 0:
        return np.zeros(p)
    G, c = _gram(X, y)
    return _cd_gram(G, c, alpha, np.zeros(p), max_iter, tol)


def lasso_fista_multi(
    X: np.ndarray,
    Y: np.ndarray,
    alpha: float,
    *,
    max_iter: int = 400,
    tol: float = 1e-7,
) -> np.ndarray:
    """FISTA over MANY responses sharing one design: returns (p, m) betas.

    The per-window scorer fits every target feature against the same
    lagged design matrix; sharing the Gram/Lipschitz work and running
    one matrix-valued iteration loop amortizes Python overhead across
    all m fits (the SWING hot path: m = G targets per window).
    Each column solves the same objective as ``lasso_fista``.
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


def lasso_path(
    X: np.ndarray,
    y: np.ndarray,
    alphas: np.ndarray,
    *,
    max_iter: int = 200,
    tol: float = 1e-6,
) -> np.ndarray:
    """Warm-started solution path over a descending alpha grid.

    Returns (len(alphas), p) betas on the standardized scale.
    """
    G, c = _gram(X, y)
    p = len(c)
    out = np.zeros((len(alphas), p))
    beta = np.zeros(p)
    for i, a in enumerate(alphas):
        beta = _cd_gram(G, c, float(a), beta, max_iter, tol)
        out[i] = beta
    return out


def max_alpha(X: np.ndarray, y: np.ndarray) -> float:
    """Smallest alpha with an all-zero solution: max |X_s^T y_c| / n.

    Mirrors the reference's bracket search for the upper alpha bound
    [ref: Swing/LassoWindow.py::get_max_alpha ~L?] — ours is the exact
    closed form rather than a bisection.
    """
    Xs, _, _ = _standardize(np.asarray(X, dtype=np.float64))
    yc = np.asarray(y, dtype=np.float64)
    yc = yc - yc.mean()
    n = max(len(yc), 1)
    if Xs.size == 0:
        return 1.0
    return float(np.max(np.abs(Xs.T @ yc)) / n) or 1.0


def cv_select_alpha(
    X: np.ndarray,
    y: np.ndarray,
    *,
    n_alphas: int = 10,
    n_folds: int = 3,
    eps: float = 1e-3,
) -> float:
    """Deterministic k-fold CV over a log-spaced alpha grid.

    Semantics of [ref: Swing/LassoWindow.py::cv_select_alpha ~L?]:
    pick the alpha minimizing mean held-out MSE.  Folds are contiguous
    row blocks (no shuffling) so the choice is reproducible across
    retries and parallelism.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n < n_folds + 1:
        return max_alpha(X, y) * 0.1
    amax = max_alpha(X, y)
    alphas = np.geomspace(amax, amax * eps, n_alphas)  # descending
    bounds = np.linspace(0, n, n_folds + 1).astype(int)
    mse = np.zeros(n_alphas)
    for f in range(n_folds):
        lo, hi = bounds[f], bounds[f + 1]
        mask = np.ones(n, dtype=bool)
        mask[lo:hi] = False
        Xtr, ytr, Xte, yte = X[mask], y[mask], X[~mask], y[~mask]
        betas = lasso_path(Xtr, ytr, alphas)  # warm-started path
        _, mu, sd = _standardize(Xtr)
        preds = ((Xte - mu) / sd) @ betas.T + ytr.mean()  # (n_te, n_alphas)
        mse += ((yte[:, None] - preds) ** 2).mean(axis=0)
    # ties resolve to the largest (sparsest) alpha — grid is descending
    return float(alphas[int(np.argmin(np.round(mse / n_folds, 12)))])


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
    multiplicative uniform noise in [1-noise, 1+noise], refit, count
    nonzero support.  Seeded => deterministic.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rng = np.random.default_rng(seed)
    n, p = X.shape
    hits = np.zeros(p)
    for _ in range(n_bootstraps):
        idx = rng.integers(0, n, size=n)
        jitter = rng.uniform(1.0 - noise, 1.0 + noise, size=(n, p))
        beta = lasso_cd(X[idx] * jitter, y[idx], alpha, max_iter=200)
        hits += (np.abs(beta) > 1e-12).astype(float)
    return hits / max(n_bootstraps, 1)
