"""Pluggable estimators (OLS / Lasso / RLM) behind one tiny interface.

Parity anchor: yatsm/regression/packaged.py::find_packaged_regressor [M] —
the reference ships sklearn-API estimators as versioned pickles
(``OLS``, ``sklearn_Lasso20`` alpha=20, ``rlm_maxiter10``); we use a plain
registry keyed by name instead (SURVEY.md §2.9). Determinism notes
SURVEY.md §7.5.2: inputs are float64 and arrive in a deterministic order,
and every product and solve goes through kernel.vecmath, so fits are
reproducible across hosts.
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.diagnostics import rmse
from yatsm_spark.kernel.robust import rlm_fit
from yatsm_spark.kernel.vecmath import lstsq, row_dot, seq_dot


class _Linear:
    """coef_ covers ALL design columns (no separate intercept — the design
    matrix carries its own intercept column)."""

    coef_: np.ndarray | None = None

    def predict(self, X: np.ndarray) -> np.ndarray:
        return seq_dot(X, self.coef_[None, :])[:, 0]


class OLS(_Linear):
    """Least squares by Householder QR (kernel.vecmath.lstsq)."""

    name = "OLS"

    def fit(self, X: np.ndarray, y: np.ndarray) -> "OLS":
        self.coef_ = lstsq(X, y)
        return self


class Lasso(_Linear):
    """L1-penalized least squares by coordinate descent in numpy (the
    reference used sklearn/glmnet Lasso with alpha=20 on reflectance
    scale), so the engine has no sklearn dependency. Intercept column
    (all-ones design column) is NOT penalized, matching glmnet/sklearn
    fit_intercept semantics. Subclasses change only the design the loop
    sees (``_standardize``) and how its coefficients map back."""

    name = "Lasso"

    def __init__(self, alpha: float = 20.0, max_iter: int = 1000, tol: float = 1e-6):
        self.alpha = alpha
        self.max_iter = max_iter
        self.tol = tol

    def _standardize(self, X, unpenalized):
        """(design for the loop, map from its coefficients to X's)."""
        return X, lambda beta: beta

    def fit(self, X: np.ndarray, y: np.ndarray) -> "Lasso":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, k = X.shape
        unpenalized = np.all(X == 1.0, axis=0)  # intercept-like columns
        Xs, back = self._standardize(X, unpenalized)
        beta = np.zeros(k)
        col_ss = (Xs ** 2).sum(axis=0)
        col_ss[col_ss == 0] = 1.0
        resid = y.copy()                        # the residual at beta = 0
        # sklearn's objective: 1/(2n)||y-Xb||^2 + alpha*||b||_1
        # → soft-threshold at n*alpha per coordinate step.
        thr = self.alpha * n
        for _ in range(self.max_iter):
            max_delta = 0.0
            for j in range(k):
                old = beta[j]
                rho = row_dot(Xs[:, j], resid) + old * col_ss[j]
                if unpenalized[j]:
                    new = rho / col_ss[j]
                else:
                    new = np.sign(rho) * max(abs(rho) - thr, 0.0) / col_ss[j]
                if new != old:
                    resid += Xs[:, j] * (old - new)
                    beta[j] = new
                    max_delta = max(max_delta, abs(new - old))
            if max_delta < self.tol:
                break
        self.coef_ = back(beta)
        return self


class GlmnetLasso(Lasso):
    """glmnet-semantics Lasso: predictors are standardized to unit variance
    (1/n denominator, glmnet's convention) BEFORE the L1 penalty applies,
    then coefficients are back-transformed to the original scale.

    Parity anchor: yatsm/regression/packaged.py ships BOTH
    ``sklearn_Lasso20`` and ``glmnet_Lasso20`` pickles [M] — the two differ
    exactly here: sklearn penalizes raw-scale coefficients, glmnet
    penalizes standardized ones, so with a mixed-scale design (trend in
    epoch-days vs unit-amplitude harmonics) the shrinkage pattern differs.
    Same coordinate-descent loop as Lasso; no glmnet/Fortran dep."""

    name = "GlmnetLasso"

    def __init__(self, alpha: float = 20.0, max_iter: int = 1000, tol: float = 1e-8):
        super().__init__(alpha, max_iter, tol)

    def _standardize(self, X, unpenalized):
        mean = X.mean(axis=0)
        sd = X.std(axis=0)  # 1/n, glmnet convention
        sd[(sd == 0) | unpenalized] = 1.0
        mean[unpenalized] = 0.0
        Xs = (X - mean) / sd
        Xs[:, unpenalized] = 1.0

        def back(beta):
            # b_j = bs_j / sd_j; fold centering into intercepts.
            coef = beta / sd
            coef[unpenalized] = beta[unpenalized]
            shift = float((beta[~unpenalized] * mean[~unpenalized]
                           / sd[~unpenalized]).sum()) if (~unpenalized).any() else 0.0
            n_int = int(unpenalized.sum())
            if n_int:
                coef[unpenalized] -= shift / n_int
            return coef

        return Xs, back


class RLM(_Linear):
    """Robust M-estimator wrapper over kernel.robust.rlm_fit.

    Parity anchor: yatsm/regression/robust_fit.py::RLM [H]; packaged default
    is maxiter=10 (``rlm_maxiter10``)."""

    name = "RLM"

    def __init__(self, maxiter: int = 10):
        self.maxiter = maxiter

    def fit(self, X: np.ndarray, y: np.ndarray) -> "RLM":
        self.coef_ = rlm_fit(X, y, maxiter=self.maxiter).coef
        return self


#: Estimator registry (reference: pickles/pickles.json names [M]).
ESTIMATORS = {
    "OLS": OLS,
    "Lasso20": lambda: Lasso(alpha=20.0),
    "sklearn_Lasso20": lambda: Lasso(alpha=20.0),   # reference pickle name
    "glmnet_Lasso20": lambda: GlmnetLasso(alpha=20.0),
    "rlm_maxiter10": lambda: RLM(maxiter=10),
}


def make_estimator(name: str):
    try:
        return ESTIMATORS[name]()
    except KeyError:
        raise KeyError(f"unknown estimator {name!r}; known: {sorted(ESTIMATORS)}")


def fit_series(X: np.ndarray, Y: np.ndarray, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(coefs (S, k), rmses (S,)): one ``name`` estimator per series, Y
    (S, n) on the design X (n, k)."""
    coefs = np.empty((len(Y), X.shape[1]))
    rmses = np.empty(len(Y))
    for b, y in enumerate(Y):
        est = make_estimator(name).fit(X, y)
        coefs[b] = est.coef_
        rmses[b] = rmse(y, est.predict(X))
    return coefs, rmses
