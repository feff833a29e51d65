"""Prequential (strict-prefix) evaluation — NumPy classifiers.

Mirrors the reference's per-window evaluation (/root/reference/pystreamfs/
utils.py:21-54): at window starting at row offset i,

- test set  = the current window, projected to the currently selected features
- train set = ALL strictly-prior rows [0, i) of the same stream (projected to
  the same selected features) — the point-in-time / leakage-free rule
- t = 0 quirk: train := test (utils.py:39-42), replicated for parity
- the model is refit from scratch every window

The window loop (``fold.WindowLoop``) keeps that prefix as a buffer of the
completed windows' rows, optionally capped to the most recent rows.

The reference's example model is sklearn KNeighborsClassifier(n_neighbors=5)
(/root/reference/examples/example_ofs.py:24); sklearn is not available in the
target environment, so we provide an equivalent NumPy k-NN (euclidean,
majority vote, smallest-label tie-break like scipy ``mode``); it is
deterministic.
"""

from __future__ import annotations

import numpy as np


def knn_accuracy(
    x_train: np.ndarray,
    y_train: np.ndarray,
    x_test: np.ndarray,
    y_test: np.ndarray,
    k: int = 5,
) -> float:
    """Fit-free k-NN: fraction of test rows whose k nearest train rows
    majority-vote the true label. Ties in distance resolve by argsort order
    (stable for equal keys via kind='stable'); label ties pick the smallest
    label, matching scipy.stats.mode semantics."""
    n_train = x_train.shape[0]
    n_test = x_test.shape[0]
    kk = min(k, n_train)
    # (n_test, n_train) squared euclidean distances, vectorized
    d2 = (
        np.sum(x_test**2, axis=1)[:, None]
        - 2.0 * (x_test @ x_train.T)
        + np.sum(x_train**2, axis=1)[None, :]
    )
    if kk >= n_train:
        idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
    else:
        # O(T) selection instead of a full O(T log T) argsort of every train
        # row: argpartition finds the kk-th distance, then each row gathers
        # ALL candidates within that radius (covers boundary ties) and
        # stable-sorts only that tiny set — flatnonzero yields ascending
        # indices, so equal distances still resolve to the smallest index,
        # bit-identical to the full stable argsort.
        part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
        vk = np.take_along_axis(d2, part, axis=1).max(axis=1, keepdims=True)
        mask = d2 <= vk
        idx = np.empty((n_test, kk), dtype=np.intp)
        for r in range(n_test):
            cand = np.flatnonzero(mask[r])
            order = np.argsort(d2[r, cand], kind="stable")[:kk]
            idx[r] = cand[order]
    votes = y_train[idx]  # (n_test, kk)
    # vectorized majority vote: counts over the globally-sorted unique labels;
    # argmax → first max → smallest label (same rule as per-row np.unique)
    uniq, inv = np.unique(votes, return_inverse=True)
    counts = np.zeros((n_test, len(uniq)), dtype=np.int64)
    np.add.at(counts, (np.arange(n_test)[:, None], inv.reshape(votes.shape)), 1)
    pred = uniq[np.argmax(counts, axis=1)]
    correct = int(np.sum(pred == y_test))
    return correct / max(1, n_test)

