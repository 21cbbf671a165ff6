"""Exact probability-SVC — SMO-trained RBF C-SVC with Platt scaling.

Reference (lcc/stars_processing/deciders/supervised_deciders.py:52-75):
``sklearn.svm.SVC(C=1.0, kernel="rbf", gamma="auto", probability=True,
tol=0.001)`` — libsvm underneath. No sklearn in this stack, so the same
published algorithms are implemented here from their definitions rather
than substituting a logistic regression (the surrogate this replaces):

- **SMO** (Platt 1998; the simplified pair-selection variant): maximize
  the SVC dual by optimizing one Lagrange-multiplier pair per step,
  clipped to the [0, C] box, until no KKT violations remain at ``tol``;
- ``gamma="auto"`` = 1 / n_features (the sklearn-of-the-era default the
  reference ran with);
- **probability=True** the way libsvm does it (Lin, Lin & Weng 2007):
  5-fold cross-validated decision values, then a Platt sigmoid
  ``P(y=1|f) = 1 / (1 + exp(A·f + B))`` fit by their damped Newton
  iteration on the out-of-fold decisions.

Deterministic given the seed (the CV fold shuffle and SMO pair draws are
the only stochastic parts).

An ``ArrowDecider`` subclass: driver-numpy fit on the collected train
sample (small by the reference's contract), scoring through the base's
broadcast-parameter pandas UDF — support vectors and dual coefficients
ship to executors once, the scoring scan stays distributed.
"""

from __future__ import annotations

import numpy as np

from .deciders import ArrowDecider, stack_samples


def _rbf(a: np.ndarray, b: np.ndarray, gamma: float) -> np.ndarray:
    d2 = (
        (a * a).sum(axis=1)[:, None]
        - 2.0 * (a @ b.T)
        + (b * b).sum(axis=1)[None, :]
    )
    return np.exp(-gamma * np.maximum(d2, 0.0))


def smo_fit(
    x: np.ndarray,
    y: np.ndarray,
    c: float = 1.0,
    gamma: float | None = None,
    tol: float = 1e-3,
    max_passes: int = 10,
    max_sweeps: int = 200,
    seed: int = 42,
):
    """Binary C-SVC dual via simplified SMO. ``y`` in {-1, +1}.

    Returns (alpha, b) with decision f(z) = Σ αᵢyᵢK(xᵢ,z) + b.
    """
    n = len(x)
    gamma = 1.0 / x.shape[1] if gamma is None else gamma
    k = _rbf(x, x, gamma)
    alpha = np.zeros(n)
    b = 0.0
    rng = np.random.default_rng(seed)
    passes = sweeps = 0
    while passes < max_passes and sweeps < max_sweeps:
        sweeps += 1
        changed = 0
        f = (alpha * y) @ k + b
        for i in range(n):
            ei = f[i] - y[i]
            if (y[i] * ei < -tol and alpha[i] < c) or (
                y[i] * ei > tol and alpha[i] > 0
            ):
                j = int(rng.integers(n - 1))
                j = j if j < i else j + 1
                ej = f[j] - y[j]
                ai_old, aj_old = alpha[i], alpha[j]
                if y[i] != y[j]:
                    lo, hi = max(0.0, aj_old - ai_old), min(c, c + aj_old - ai_old)
                else:
                    lo, hi = max(0.0, ai_old + aj_old - c), min(c, ai_old + aj_old)
                if lo >= hi:
                    continue
                eta = 2.0 * k[i, j] - k[i, i] - k[j, j]
                if eta >= 0:
                    continue
                aj = np.clip(aj_old - y[j] * (ei - ej) / eta, lo, hi)
                if abs(aj - aj_old) < 1e-5:
                    continue
                ai = ai_old + y[i] * y[j] * (aj_old - aj)
                alpha[i], alpha[j] = ai, aj
                b1 = b - ei - y[i] * (ai - ai_old) * k[i, i] - y[j] * (
                    aj - aj_old
                ) * k[i, j]
                b2 = b - ej - y[i] * (ai - ai_old) * k[i, j] - y[j] * (
                    aj - aj_old
                ) * k[j, j]
                b_old = b
                if 0 < ai < c:
                    b = b1
                elif 0 < aj < c:
                    b = b2
                else:
                    b = (b1 + b2) / 2.0
                # rank-2 incremental decision update — a full
                # (alpha*y)@k recompute here made each sweep O(n³)
                f += (
                    y[i] * (ai - ai_old) * k[i]
                    + y[j] * (aj - aj_old) * k[j]
                    + (b - b_old)
                )
                changed += 1
        passes = passes + 1 if changed == 0 else 0
    return alpha, b


def platt_fit(dec: np.ndarray, y: np.ndarray, max_iter: int = 100):
    """Lin, Lin & Weng (2007) Newton fit of P(y=1|f)=1/(1+exp(A·f+B)).

    ``y`` in {-1, +1}; returns (A, B). Targets use Platt's smoothed
    prior counts to avoid overfitting the sigmoid."""
    prior1 = float((y > 0).sum())
    prior0 = float(len(y) - prior1)
    hi = (prior1 + 1.0) / (prior1 + 2.0)
    lo = 1.0 / (prior0 + 2.0)
    t = np.where(y > 0, hi, lo)
    a, bb = 0.0, np.log((prior0 + 1.0) / (prior1 + 1.0))
    eps = 1e-12
    sigma = 1e-12  # Levenberg-Marquardt damping floor

    def nll(a_, b_):
        fapb = dec * a_ + b_
        return np.where(
            fapb >= 0,
            t * fapb + np.log1p(np.exp(-fapb)),
            (t - 1.0) * fapb + np.log1p(np.exp(fapb)),
        ).sum()

    fval = nll(a, bb)
    for _ in range(max_iter):
        fapb = dec * a + bb
        p = np.where(
            fapb >= 0,
            np.exp(-fapb) / (1.0 + np.exp(-fapb)),
            1.0 / (1.0 + np.exp(fapb)),
        )
        q = 1.0 - p
        d1 = t - p
        d2 = p * q
        g1 = (dec * d1).sum()
        g2 = d1.sum()
        if abs(g1) < 1e-5 and abs(g2) < 1e-5:
            break
        h11 = (dec * dec * d2).sum() + sigma
        h22 = d2.sum() + sigma
        h21 = (dec * d2).sum()
        det = h11 * h22 - h21 * h21
        da = -(h22 * g1 - h21 * g2) / det
        db = -(-h21 * g1 + h11 * g2) / det
        gd = g1 * da + g2 * db
        step = 1.0
        while step >= 1e-10:
            na, nb = a + step * da, bb + step * db
            nf = nll(na, nb)
            if nf < fval + 1e-4 * step * gd + eps:
                a, bb, fval = na, nb, nf
                break
            step /= 2.0
        else:
            break
    return a, bb


class SVCDecider(ArrowDecider):
    """The reference's SVCDec, exact algorithms (SMO + libsvm-style
    5-fold Platt scaling). ``threshold=0.5`` is the reference default."""

    def __init__(self, threshold: float = 0.5, c: float = 1.0,
                 gamma: float | None = None, tol: float = 1e-3,
                 n_folds: int = 5, seed: int = 42):
        self.threshold = threshold
        self.c = float(c)
        self.gamma = gamma
        self.tol = float(tol)
        self.n_folds = int(n_folds)
        self.seed = seed

    def fit(self, x1, x0):
        x, y = stack_samples(x1, x0, negative=-1.0)
        gamma = 1.0 / x.shape[1] if self.gamma is None else float(self.gamma)

        # libsvm probability path: sigmoid fit on 5-fold OUT-OF-FOLD
        # decision values (in-sample decisions would overfit A, B)
        rng = np.random.default_rng(self.seed)
        order = rng.permutation(len(x))
        folds = np.array_split(order, min(self.n_folds, len(x)))
        dec = np.empty(len(x))
        for held in folds:
            mask = np.ones(len(x), dtype=bool)
            mask[held] = False
            if mask.sum() == 0 or len(set(y[mask])) < 2:
                dec[held] = 0.0
                continue
            a_f, b_f = smo_fit(
                x[mask], y[mask], self.c, gamma, self.tol, seed=self.seed
            )
            kv = _rbf(x[held], x[mask], gamma)
            dec[held] = kv @ (a_f * y[mask]) + b_f
        pa, pb = platt_fit(dec, y)

        # final machine on the full train set
        alpha, b = smo_fit(x, y, self.c, gamma, self.tol, seed=self.seed)
        sv = alpha > 1e-12
        return {
            "sv_x": x[sv],
            "sv_ay": (alpha * y)[sv],
            "b": float(b),
            "gamma": gamma,
            "platt_a": float(pa),
            "platt_b": float(pb),
        }

    def proba(self, x):
        p = self.params
        dec = _rbf(x, p["sv_x"], p["gamma"]) @ p["sv_ay"] + p["b"]
        fapb = dec * p["platt_a"] + p["platt_b"]
        return np.where(
            fapb >= 0,
            np.exp(-fapb) / (1.0 + np.exp(-fapb)),
            1.0 / (1.0 + np.exp(fapb)),
        )
