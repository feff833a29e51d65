"""Test-only NumPy oracle: an independent, eager transcription of the
reference harness semantics (/root/reference/pystreamfs/pystreamfs.py:29-100,
utils.py:4-54, algorithms/{ofs,fsds,efs}.py), written separately from the
engine kernels so transcription errors on either side surface as parity
failures. Pure NumPy — no sklearn/psutil/matplotlib.

``simulate(X, Y, kernel, ...)`` replays ONE stream (one conversation) exactly
like the reference loop: tumbling count windows, state threaded across
windows, top-m selection by reversed argsort, FSCR for t ≥ 1, optional
prequential accuracy with the t=0 train:=test quirk.
"""

from __future__ import annotations

import math

import numpy as np

from pystreamfs_spark.classify import knn_accuracy


# --- kernels, transcribed straight off the reference modules ---------------

def _ofs_truncate(w, num_features):
    if len(w.nonzero()[0]) > num_features:
        w_sort_idx = np.argsort(abs(w))[-num_features:]
        zero_indices = [x for x in range(len(w)) if x not in w_sort_idx]
        w = w.copy()
        w[zero_indices] = 0
    return w


def ofs_window(X, Y, w, num_features, eta=0.2, lamb=0.01):
    for x, y in zip(X, Y):
        y = -1 if y == 0 else 1
        f = np.dot(w, x)
        if y * f <= 1:
            w = w + eta * y * x
            with np.errstate(divide="ignore"):
                w = w * min(1, 1 / (math.sqrt(lamb) * np.linalg.norm(w)))
            w = _ofs_truncate(w, num_features)
    return w


def fsds_window(X, B, ell, k, m):
    Yt = X.T
    if ell < 1:
        ell = int(np.sqrt(m))
    if B is None or (hasattr(B, "__len__") and len(B) == 0):
        B = Yt[:, :ell]
        C = np.hstack((B, Yt[:, ell:]))
    else:
        C = np.hstack((B, Yt))
    U, s, V = np.linalg.svd(C, full_matrices=False)
    U = U[:, :ell]
    s = s[:ell]
    delta = s[-1] ** 2
    with np.errstate(invalid="ignore"):
        s = np.sqrt(s**2 - delta)
    s = np.nan_to_num(s)
    B = np.dot(U, np.diag(s))
    alpha = (2**3) * s[k - 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        D = np.diag(s[:k] / (s[:k] ** 2 + alpha))
    D = np.nan_to_num(D)
    Xk = np.dot(U[:, :k], D)
    w = np.amax(abs(Xk), axis=1)
    return w, B, ell


def efs_window(X, Y, u, v, alpha, beta, threshold, M):
    for x, y in zip(X, Y):
        y = -1 if y == 0 else 1
        # sklearn MinMaxScaler on the single instance: x*scale + min_
        mn = x.min()
        data_range = x.max() - mn
        scale = 1.0 / (data_range if data_range != 0 else 1.0)
        x = x * scale + (0.0 - mn * scale)
        score = np.dot(x, u) - np.dot(x, v) - threshold
        if score * y <= M:
            if y > 0:
                u = u * alpha * (1 + x)
                v = v * beta * (1 - x)
            else:
                u = u * beta * (1 - x)
                v = v * alpha * (1 + x)
    w = abs(u - v)
    return w, u, v


def fscr(prev_sel, cur_sel, n):
    return len(set(prev_sel).difference(set(cur_sel))) / n


# --- the stream loop --------------------------------------------------------

def simulate(
    X: np.ndarray,
    Y: np.ndarray,
    kernel: str = "ofs",
    batch_size: int = 50,
    num_features: int = 5,
    k: int = 2,
    ell: int = 0,
    with_accuracy: bool = False,
    max_train_rows: int | None = None,
) -> dict:
    """Replay one stream; returns dict of per-window lists.

    ``max_train_rows=M`` trains window i on X[max(0, i-M):i] instead of the
    whole prefix (t=0 still trains on the window itself); ``train_rows``
    reports the full prefix length either way."""
    m = X.shape[1]
    w = np.zeros(m, dtype=int)
    B = []
    u = np.ones(m) * 2
    v = np.ones(m)
    out = {"w": [], "selected": [], "fscr": [], "acc": [], "train_rows": []}
    for i in range(0, X.shape[0], batch_size):
        Xb, Yb = X[i : i + batch_size], Y[i : i + batch_size]
        if kernel == "ofs":
            w = ofs_window(Xb, Yb, w, num_features)
        elif kernel == "fsds":
            w, B, ell = fsds_window(Xb, B, ell, k, m)
        elif kernel == "efs":
            w, u, v = efs_window(Xb, Yb, u, v, 1.5, 0.5, 1, 1)
        else:
            raise ValueError(kernel)
        selected = np.argsort(abs(np.asarray(w, dtype=float)))[::-1][:num_features]
        out["w"].append(np.asarray(w, dtype=float).copy())
        out["selected"].append(selected.tolist())
        if i / batch_size >= 1:
            out["fscr"].append(fscr(out["selected"][-2], selected, num_features))
        if with_accuracy:
            stop = min(i + batch_size, X.shape[0])
            x_test = X[i:stop][:, selected]
            y_test = Y[i:stop]
            if i == 0:
                x_train, y_train = x_test, y_test
                out["train_rows"].append(stop)
            else:
                lo = 0 if max_train_rows is None else max(0, i - max_train_rows)
                x_train = X[lo:i][:, selected]
                y_train = Y[lo:i]
                out["train_rows"].append(i)
            out["acc"].append(knn_accuracy(x_train, y_train, x_test, y_test, k=5))
    return out
