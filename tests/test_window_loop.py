"""WindowLoop (the fold core), Spark-free: its records must not depend on how
an entity's rows are split across ``feed`` calls — the property every feeder
relies on (Arrow batches, micro-batches, whole conversations)."""

import numpy as np
import pytest

from pystreamfs_spark.fold import WindowLoop

BATCH = 7
NUM_FEATURES = 3
KERNELS = [("ofs", {}), ("fsds", {"k": 2, "ell": 0}), ("efs", {}), ("mcnn", {})]


def _stream(seed, n=61, m=9):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, m))
    y = (X[:, 0] + 0.5 * rng.normal(size=n) > 0).astype(np.float64)
    ts = np.arange(n, dtype=np.int64) * 1000
    return X, y, ts


def _run(kernel, kw, cap, X, y, ts, cuts):
    loop = WindowLoop(
        kernel, X.shape[1], BATCH, NUM_FEATURES, kw, cap, with_accuracy=True
    )
    recs = []
    edges = [0, *cuts, len(X)]
    for lo, hi in zip(edges[:-1], edges[1:]):
        recs += loop.feed(X[lo:hi], y[lo:hi], ts[lo:hi])
    recs += loop.finish()
    return recs


def _comparable(recs):
    # everything but elapsed_sec (wall time)
    return [
        (wid, rows, int(ts_end), w.tolist(), sel.tolist(), acc, trows)
        for wid, rows, ts_end, w, sel, acc, trows, _ in recs
    ]


@pytest.mark.parametrize("cap", [None, 10])
@pytest.mark.parametrize("kernel,kw", KERNELS)
def test_records_invariant_to_chunk_splits(kernel, kw, cap):
    X, y, ts = _stream(seed=3)
    whole = WindowLoop(kernel, X.shape[1], BATCH, NUM_FEATURES, kw, cap, with_accuracy=True)
    expected = _comparable(whole.feed(X, y, ts, final=True))
    assert [r[1] for r in expected] == [BATCH] * 8 + [61 - 8 * BATCH]
    rng = np.random.default_rng(17)
    splits = [
        list(range(1, len(X))),  # one row per feed
        [0, 0, 5, 5, 5, 30, 60, 61, 61],  # empty feeds at both ends and between
    ] + [sorted(rng.integers(0, len(X) + 1, size=int(rng.integers(1, 12))).tolist()) for _ in range(6)]
    for cuts in splits:
        assert _comparable(_run(kernel, kw, cap, X, y, ts, cuts)) == expected, cuts


def test_resume_from_state_and_window_id():
    """A loop rebuilt from another loop's state, window id and carry (as the
    streaming adapter does from its checkpointed state) continues it."""
    X, y, ts = _stream(seed=9)
    first = WindowLoop("ofs", X.shape[1], BATCH, NUM_FEATURES)
    recs = first.feed(X[:25], y[:25])
    second = WindowLoop("ofs", X.shape[1], BATCH, NUM_FEATURES, state=first.state, window_id=first.wid)
    second.carry_X, second.carry_y = first.carry_X, first.carry_y
    recs += second.feed(X[25:], y[25:], final=True)
    whole = WindowLoop("ofs", X.shape[1], BATCH, NUM_FEATURES).feed(X, y, final=True)
    assert [(r[0], r[1], r[3].tolist()) for r in recs] == [(r[0], r[1], r[3].tolist()) for r in whole]
    assert all(r[2] is None for r in recs)  # no ts fed -> no ts_end


def test_rejects_empty_windows():
    with pytest.raises(ValueError, match="batch_size"):
        WindowLoop("ofs", 4, 0, 2)
