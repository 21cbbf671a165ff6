"""Exact NeuronDecider — the reference's 2-layer feed-forward net.

Reference (lcc/stars_processing/deciders/neuron_decider.py:11-155): a
Keras ``Sequential`` of ``Dense(hidden_neurons, activation="relu")`` →
``Dense(1, activation="sigmoid")``, compiled with binary cross-entropy
and the *adam* optimizer, trained ``model.fit(X, y, epochs=150,
batch_size=10)`` (the ctor's ``maxEpochs`` is unused in the Keras path —
150/10 are hardcoded), defaults ``threshold=0.5, hidden_neurons=2``;
``evaluate`` returns the sigmoid output as the membership probability.

No TensorFlow in this stack, so the same network is trained here in
numpy from the published definitions rather than substituting a
different estimator (the MLlib MLP surrogate this replaces used a
softmax/logistic top and L-BFGS — a different model family):

- Glorot-uniform kernel init, zero biases (Keras ``Dense`` defaults),
  seeded;
- mini-batch SGD with per-epoch shuffling (Keras ``fit`` default),
  batch 10, 150 epochs;
- Adam exactly as published (Kingma & Ba 2015) with Keras defaults
  lr=0.001, β₁=0.9, β₂=0.999, ε=1e-7, bias-corrected moments;
- binary cross-entropy on the sigmoid output, Keras's 1e-7 clip.

Deterministic given the seed (pure numpy — unlike the TF original,
whose results vary run-to-run without global seeding).

An ``ArrowDecider`` subclass: the fit runs driver-side on the collected
train sample (small by the reference's contract — it trains on a Python
list of star coordinates), and the base's broadcast-parameter pandas
UDF scores with the weights so the 100 TB scan stays fully distributed
with no per-row Python.
"""

from __future__ import annotations

import numpy as np

from .deciders import ArrowDecider, stack_samples

_EPS = 1e-7  # Keras backend epsilon (BCE clip)


def _glorot_uniform(rng: np.random.Generator, fan_in: int, fan_out: int):
    limit = np.sqrt(6.0 / (fan_in + fan_out))
    return rng.uniform(-limit, limit, size=(fan_in, fan_out))


def fit_mlp(
    x: np.ndarray,
    y: np.ndarray,
    hidden: int = 2,
    epochs: int = 150,
    batch_size: int = 10,
    lr: float = 1e-3,
    beta1: float = 0.9,
    beta2: float = 0.999,
    seed: int = 42,
) -> dict:
    """Train the relu→sigmoid net with Adam; returns the weight dict.

    Shapes: W1 (d, hidden), b1 (hidden,), W2 (hidden, 1), b2 (1,).
    """
    rng = np.random.default_rng(seed)
    d = x.shape[1]
    params = {
        "W1": _glorot_uniform(rng, d, hidden),
        "b1": np.zeros(hidden),
        "W2": _glorot_uniform(rng, hidden, 1),
        "b2": np.zeros(1),
    }
    m = {k: np.zeros_like(v) for k, v in params.items()}
    v = {k: np.zeros_like(v) for k, v in params.items()}
    t = 0
    n = len(x)
    for _ in range(epochs):
        order = rng.permutation(n)
        for s in range(0, n, batch_size):
            idx = order[s : s + batch_size]
            xb, yb = x[idx], y[idx]
            # forward
            z1 = xb @ params["W1"] + params["b1"]
            a1 = np.maximum(z1, 0.0)
            z2 = a1 @ params["W2"] + params["b2"]
            p = 1.0 / (1.0 + np.exp(-z2[:, 0]))
            # backward: mean BCE over the batch; d(BCE)/dz2 = p - y
            # (the 1e-7 clip enters the loss value, not this gradient —
            # matching TF's from-logits-free sigmoid+BCE composition)
            dz2 = (p - yb)[:, None] / len(xb)
            grads = {
                "W2": a1.T @ dz2,
                "b2": dz2.sum(axis=0),
            }
            da1 = dz2 @ params["W2"].T
            dz1 = da1 * (z1 > 0.0)
            grads["W1"] = xb.T @ dz1
            grads["b1"] = dz1.sum(axis=0)
            # adam
            t += 1
            for k in params:
                m[k] = beta1 * m[k] + (1 - beta1) * grads[k]
                v[k] = beta2 * v[k] + (1 - beta2) * grads[k] ** 2
                mhat = m[k] / (1 - beta1**t)
                vhat = v[k] / (1 - beta2**t)
                params[k] = params[k] - lr * mhat / (np.sqrt(vhat) + _EPS)
    return params


def mlp_predict(params: dict, x: np.ndarray) -> np.ndarray:
    a1 = np.maximum(x @ params["W1"] + params["b1"], 0.0)
    z2 = a1 @ params["W2"] + params["b2"]
    return 1.0 / (1.0 + np.exp(-z2[:, 0]))


class NeuronDecider(ArrowDecider):
    """The reference's NN decider, exact architecture and optimizer.

    ``threshold=0.5`` and ``hidden_neurons=2`` are the reference's own
    defaults (neuron_decider.py:59); ``max_epochs`` is accepted for
    ctor parity but — like the reference's Keras path — training runs
    the hardcoded 150 epochs."""

    def __init__(self, threshold: float = 0.5, hidden_neurons: int = 2,
                 max_epochs: int = 1000, seed: int = 42):
        self.threshold = threshold
        self.hidden_neurons = int(hidden_neurons)
        self.max_epochs = int(max_epochs)
        self.seed = seed

    def fit(self, x1, x0):
        x, y = stack_samples(x1, x0)
        return fit_mlp(x, y, hidden=self.hidden_neurons, seed=self.seed)

    def proba(self, x):
        return mlp_predict(self.params, x)
