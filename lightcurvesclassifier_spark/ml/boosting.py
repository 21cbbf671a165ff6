"""Exact AdaBoost (SAMME.R over stumps) and ExtraTrees deciders.

The reference delegates these to sklearn
(lcc/stars_processing/deciders/supervised_deciders.py:173-219:
``AdaBoostClassifier(algorithm="SAMME.R")`` with its default
depth-1-tree base estimator, and ``ExtraTreesClassifier`` with
``n_estimators=10, criterion="gini", bootstrap=False``). No sklearn in
this stack, so the *same published algorithms* are implemented here from
their definitions (SAMME.R: Hastie, Rosset, Zhu & Zou 2009; extremely
randomized trees: Geurts, Ernst & Wehenkel 2006) rather than substituting
a different estimator family (the GBT/RF surrogates these replace).

Both are ``ArrowDecider`` subclasses: the fit runs driver-side on the
collected train sample (small by the reference's contract — it trains on
tens-to-thousands of stars in a Python list), and the base's
broadcast-parameter pandas UDF scores with ``proba`` so the 100 TB scan
stays fully distributed with no per-row Python.
"""

from __future__ import annotations

import numpy as np

from .deciders import DEFAULT_THRESHOLD, ArrowDecider, stack_samples

_CLIP = np.finfo(np.float64).eps  # sklearn's log-proba clip


# ---------------------------------------------------------------------------
# Weighted decision stump (gini) — AdaBoost's default base estimator


def _fit_stump(x: np.ndarray, y: np.ndarray, w: np.ndarray):
    """Best (feature, threshold) by weighted gini; returns
    (feat, thr, p_left, p_right) with p_* = weighted class-1 frequency."""
    n, d = x.shape
    w = w / w.sum()
    best = (0, -np.inf, 0.0, 0.0)
    best_imp = np.inf
    for j in range(d):
        order = np.argsort(x[:, j], kind="stable")
        xs, ys, ws = x[order, j], y[order], w[order]
        cw1 = np.cumsum(ws * ys)
        cw = np.cumsum(ws)
        tot1, tot = cw1[-1], cw[-1]
        # candidate splits between distinct consecutive values
        distinct = np.nonzero(np.diff(xs) > 0)[0]
        if len(distinct) == 0:
            continue
        wl, w1l = cw[distinct], cw1[distinct]
        wr, w1r = tot - wl, tot1 - w1l
        # both sides clipped: a zero cumulative weight (sample weights
        # can underflow to 0.0 in late boosting rounds) would make the
        # gini NaN and silently discard every split on the feature
        pl = w1l / np.maximum(wl, _CLIP)
        pr = w1r / np.maximum(wr, _CLIP)
        gini = wl * pl * (1 - pl) + wr * pr * (1 - pr)
        k = int(np.argmin(gini))
        if gini[k] < best_imp:
            best_imp = float(gini[k])
            i = distinct[k]
            best = (j, (xs[i] + xs[i + 1]) / 2.0, float(pl[k]), float(pr[k]))
    return best


def _stump_proba(stump, x: np.ndarray) -> np.ndarray:
    j, thr, pl, pr = stump
    p1 = np.where(x[:, j] <= thr, pl, pr)
    return np.column_stack([1.0 - p1, p1])


class AdaBoostDecider(ArrowDecider):
    """SAMME.R boosting over gini stumps — the published algorithm the
    reference's ``AdaBoostDec`` runs (sklearn defaults: 50 estimators,
    learning_rate 1.0, depth-1 base trees).

    Per round: fit a weighted stump, then reweight
    ``w ·= exp(−lr · (K−1)/K · y⃗ · log p(x))`` with the symmetric coding
    ``y⃗ ∈ {−1/(K−1), 1}``; decision = Σ (K−1)(log pₖ − mean log p);
    predict_proba = softmax of decision / (K−1)."""

    def __init__(self, n_estimators: int = 50, learning_rate: float = 1.0,
                 threshold: float = DEFAULT_THRESHOLD):
        self.n_estimators = int(n_estimators)
        self.learning_rate = float(learning_rate)
        self.threshold = threshold

    def fit(self, x1, x0):
        x, y = stack_samples(x1, x0)
        n = len(x)
        w = np.full(n, 1.0 / n)
        y_coded = np.where(y == 1, 1.0, -1.0)  # K=2: {-1/(K-1), 1}
        stumps = []
        for _ in range(self.n_estimators):
            stump = _fit_stump(x, y, w)
            proba = np.clip(_stump_proba(stump, x), _CLIP, None)
            logp = np.log(proba)
            stumps.append(stump)
            # SAMME.R weight update (K=2): w *= exp(-lr * 1/2 * y⃗·logp)
            h = 0.5 * (logp[:, 1] - logp[:, 0])
            w = w * np.exp(-self.learning_rate * y_coded * h)
            s = w.sum()
            if not np.isfinite(s) or s <= 0:
                break
            w /= s
        return stumps

    def proba(self, x):
        lr = self.learning_rate
        dec = np.zeros(len(x))
        for stump in self.params:
            logp = np.log(np.clip(_stump_proba(stump, x), _CLIP, None))
            # (K-1)*(logp_k - mean logp): class-1 minus class-0 halves
            dec += lr * 0.5 * (logp[:, 1] - logp[:, 0])
        # normalize by the summed estimator weights, then the binary
        # softmax of the symmetric per-class decision (±dec)
        dec /= lr * len(self.params)
        return 1.0 / (1.0 + np.exp(-2.0 * dec))


# ---------------------------------------------------------------------------
# Extremely randomized trees


def _split_node(x, y, idx, rng, max_features, min_samples_split):
    """One Geurts-et-al. node: pick ``max_features`` random features,
    draw ONE uniform threshold per feature in [min, max), keep the best
    split by gini. Returns a leaf class-1 frequency (float) or
    (feat, thr, left_mask)."""
    ysub = y[idx]
    n1 = ysub.sum()
    if len(idx) < min_samples_split or n1 == 0 or n1 == len(idx):
        return float(n1 / len(idx))
    d = x.shape[1]
    feats = rng.choice(d, size=min(max_features, d), replace=False)
    best, best_imp = None, np.inf
    for j in feats:
        col = x[idx, j]
        lo, hi = col.min(), col.max()
        if lo == hi:
            continue
        thr = rng.uniform(lo, hi)
        left = col <= thr
        nl = left.sum()
        if nl == 0 or nl == len(idx):
            continue
        pl = ysub[left].mean()
        pr = ysub[~left].mean()
        imp = nl * pl * (1 - pl) + (len(idx) - nl) * pr * (1 - pr)
        if imp < best_imp:
            best_imp, best = imp, (j, thr, left)
    if best is None:
        return float(n1 / len(idx))
    return best


def _build_extra_tree(x, y, idx, rng, max_features, min_samples_split=2):
    """Grow to purity, ITERATIVELY (explicit left-first stack preserving
    the recursive preorder rng sequence — trees grown to purity can
    exceed Python's recursion limit on degenerate data, and the
    recursive form also crashed the scoring UDF executor-side). Node =
    [feat, thr, left, right] or a leaf class-1 frequency (float)."""
    root = [None]
    stack = [(root, 0, idx)]
    while stack:
        slot, pos, ix = stack.pop()
        node = _split_node(x, y, ix, rng, max_features, min_samples_split)
        if isinstance(node, float):
            slot[pos] = node
            continue
        j, thr, left = node
        box = [int(j), float(thr), None, None]
        slot[pos] = box
        # push right first so the left child pops (and consumes rng) next
        stack.append((box, 3, ix[~left]))
        stack.append((box, 2, ix[left]))
    return root[0]


def _tree_proba(node, x: np.ndarray, idx, out):
    """Iterative routing (the tree can be deeper than the recursion
    limit; this also runs inside the scoring pandas UDF)."""
    stack = [(node, idx)]
    while stack:
        nd, ix = stack.pop()
        if isinstance(nd, float):
            out[ix] = nd
            continue
        j, thr, l, r = nd
        mask = x[ix, j] <= thr
        stack.append((r, ix[~mask]))
        stack.append((l, ix[mask]))


class ExtraTreesDecider(ArrowDecider):
    """Extremely randomized trees — the published algorithm behind the
    reference's ``ExtraTreesDec`` (sklearn defaults: 10 trees, gini,
    no bootstrap, ``max_features=sqrt(d)``, grow to purity);
    ``predict_proba`` = mean of per-tree leaf class frequencies.
    Deterministic given the seed."""

    def __init__(self, n_estimators: int = 10, seed: int = 42,
                 threshold: float = DEFAULT_THRESHOLD):
        self.n_estimators = int(n_estimators)
        self.seed = seed
        self.threshold = threshold

    def fit(self, x1, x0):
        x, y = stack_samples(x1, x0)
        rng = np.random.default_rng(self.seed)
        max_features = max(1, int(np.sqrt(x.shape[1])))
        return [
            _build_extra_tree(x, y, np.arange(len(x)), rng, max_features)
            for _ in range(self.n_estimators)
        ]

    def proba(self, x):
        acc = np.zeros(len(x))
        buf = np.empty(len(x))
        for tree in self.params:
            _tree_proba(tree, x, np.arange(len(x)), buf)
            acc += buf
        return acc / len(self.params)
