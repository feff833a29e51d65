"""Parity: engine folds (both physical strategies) vs the NumPy oracle.

For every synthetic conversation the engine's per-window weight vectors,
top-m selections and window row-counts must match an independent eager
replay of the reference loop (tests/oracle_ref.py) — OFS/EFS allclose at
rtol 1e-9/atol 1e-12 (pure arithmetic), FSDS compared on w (already
sign-invariant, same LAPACK on both sides).
"""

import numpy as np
import pytest

from pystreamfs_spark.fold import fold_weights, fold_weights_stream
from pystreamfs_spark.functions.features import featurize_turns
from pystreamfs_spark.sources.transcripts import synthesize_transcripts

from oracle_ref import simulate

BATCH = 13  # deliberately does not divide most conversation lengths
NUM_FEATURES = 5


@pytest.fixture(scope="module")
def featurized(spark):
    df = featurize_turns(synthesize_transcripts(spark, n_convs=12, seed=7)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def per_conv_matrices(featurized):
    pdf = featurized.select("conv_id", "turn_idx", "ts", "features", "label").toPandas()
    out = {}
    for conv_id, g in pdf.groupby("conv_id"):
        g = g.sort_values(["turn_idx", "ts"])
        out[conv_id] = (
            np.stack(g["features"].to_numpy()).astype(np.float64),
            g["label"].to_numpy(dtype=np.float64),
        )
    return out


def _collect_engine(df):
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r.conv_id, {})[r.window_id] = r
    return out


@pytest.mark.parametrize("kernel,kw", [("ofs", {}), ("efs", {}), ("fsds", {"k": 2, "ell": 0})])
@pytest.mark.parametrize("strategy", [fold_weights, fold_weights_stream])
def test_fold_matches_oracle(featurized, per_conv_matrices, kernel, kw, strategy):
    eng = _collect_engine(
        strategy(featurized, kernel=kernel, batch_size=BATCH, num_features=NUM_FEATURES, kernel_kwargs=kw)
    )
    assert set(eng) == set(per_conv_matrices)
    for conv_id, (X, y) in per_conv_matrices.items():
        ora = simulate(X, y, kernel=kernel, batch_size=BATCH, num_features=NUM_FEATURES, **kw)
        n_windows = (len(X) + BATCH - 1) // BATCH
        assert len(eng[conv_id]) == n_windows == len(ora["w"])
        for wid in range(n_windows):
            row = eng[conv_id][wid]
            np.testing.assert_allclose(
                np.array(row.w), ora["w"][wid], rtol=1e-9, atol=1e-12,
                err_msg=f"{kernel} conv={conv_id} window={wid}",
            )
            assert list(row.selected) == ora["selected"][wid], f"{kernel} conv={conv_id} window={wid}"
            expected_rows = min(BATCH, len(X) - wid * BATCH)
            assert row.win_rows == expected_rows


def test_partial_last_window_and_tiny_convs(spark):
    # conversations shorter than the batch produce exactly one partial window
    df = featurize_turns(synthesize_transcripts(spark, n_convs=6, seed=11))
    out = fold_weights(df, kernel="ofs", batch_size=10_000, num_features=NUM_FEATURES)
    pdf = out.toPandas()
    assert (pdf["window_id"] == 0).all()
    sizes = df.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    got = pdf.set_index("conv_id")["win_rows"]
    assert got.sort_index().tolist() == sizes.sort_index().tolist()


def test_accuracy_parity_ofs(featurized, per_conv_matrices):
    eng = _collect_engine(
        fold_weights(featurized, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES, with_accuracy=True)
    )
    for conv_id, (X, y) in per_conv_matrices.items():
        ora = simulate(X, y, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES, with_accuracy=True)
        for wid, acc in enumerate(ora["acc"]):
            assert eng[conv_id][wid].acc == pytest.approx(acc, abs=1e-12)


def test_knn_argpartition_matches_full_stable_argsort():
    """knn_accuracy selects neighbors via argpartition + radius gather; on
    tie-heavy integer data it must equal the naive full stable argsort rule
    (equal distances -> smallest train index) exactly."""
    import numpy as np

    from pystreamfs_spark.classify import knn_accuracy

    def naive(x_train, y_train, x_test, y_test, k=5):
        kk = min(k, x_train.shape[0])
        d2 = (
            np.sum(x_test**2, axis=1)[:, None]
            - 2.0 * (x_test @ x_train.T)
            + np.sum(x_train**2, axis=1)[None, :]
        )
        idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
        votes = y_train[idx]
        correct = 0
        for r in range(votes.shape[0]):
            labels, counts = np.unique(votes[r], return_counts=True)
            if labels[np.argmax(counts)] == y_test[r]:
                correct += 1
        return correct / max(1, x_test.shape[0])

    rng = np.random.default_rng(0)
    for trial in range(30):
        n_tr = int(rng.integers(1, 40))
        n_te = int(rng.integers(1, 15))
        m = int(rng.integers(1, 5))
        # small-integer coordinates -> many exact distance ties
        x_train = rng.integers(0, 3, size=(n_tr, m)).astype(np.float64)
        y_train = rng.integers(0, 3, size=n_tr).astype(np.float64)
        x_test = rng.integers(0, 3, size=(n_te, m)).astype(np.float64)
        y_test = rng.integers(0, 3, size=n_te).astype(np.float64)
        a = knn_accuracy(x_train, y_train, x_test, y_test, k=5)
        b = naive(x_train, y_train, x_test, y_test, k=5)
        assert a == b, (trial, a, b)


def test_stream_accuracy_matches_grouped_capped(spark):
    """fold_weights_stream(with_accuracy, max_train_rows=M) must equal
    fold_weights(with_accuracy, max_train_rows=M) exactly — including the
    t=0 train==test quirk, the capped-prefix training set, and the reported
    full-prefix train_rows — even across tiny Arrow batch boundaries."""
    from pystreamfs_spark.fold import fold_weights, fold_weights_stream
    from pystreamfs_spark.functions.features import featurize_turns
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    f = featurize_turns(synthesize_transcripts(spark, n_convs=12, seed=11)).cache()
    M = 30  # smaller than long conversations -> the cap actually bites
    grouped = {
        (r.conv_id, r.window_id): (r.acc, r.train_rows, tuple(r.selected))
        for r in fold_weights(
            f, kernel="ofs", batch_size=12, with_accuracy=True, max_train_rows=M
        ).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        streamed = {
            (r.conv_id, r.window_id): (r.acc, r.train_rows, tuple(r.selected))
            for r in fold_weights_stream(
                f, kernel="ofs", batch_size=12, with_accuracy=True, max_train_rows=M
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert streamed == grouped
    assert any(v[1] > M for v in grouped.values())  # cap exercised


def test_stream_accuracy_requires_cap(spark):
    import pytest

    from pystreamfs_spark.fold import fold_weights_stream
    from pystreamfs_spark.functions.features import featurize_turns
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    f = featurize_turns(synthesize_transcripts(spark, n_convs=2, seed=1))
    with pytest.raises(ValueError, match="max_train_rows"):
        fold_weights_stream(f, with_accuracy=True)


def test_large_window_kernels_bit_identical_to_reference():
    """One 4000-row window through ofs_update/efs_update must produce the
    EXACT reference weight trajectory — sparse (separable) and dense
    (noisy) violation regimes."""
    import numpy as np

    from oracle_ref import efs_window, ofs_window
    from pystreamfs_spark.kernels.efs import EFSState, efs_update
    from pystreamfs_spark.kernels.ofs import OFSState, ofs_update

    rng = np.random.default_rng(123)
    m, n = 16, 4000
    tw = np.zeros(m)
    tw[:5] = 8.0
    scenarios = {
        "sparse": (lambda X: (X @ tw > 0).astype(float)),
        "dense": (lambda X: rng.integers(0, 2, size=n).astype(float)),
    }
    for name, label_fn in scenarios.items():
        X = rng.normal(size=(n, m)) * 3.0
        y = label_fn(X)
        # one giant window
        st, w_eng = ofs_update(OFSState.init(m, 5), X, y)
        w_ref = ofs_window(X, y, np.zeros(m), 5)
        assert np.array_equal(w_eng, w_ref), f"ofs {name}"

        est, w_eefs = efs_update(EFSState.init(m), X, y)
        w_refe, u_ref, v_ref = efs_window(
            X, y, np.ones(m) * 2, np.ones(m), 1.5, 0.5, 1.0, 1.0
        )
        assert np.array_equal(w_eefs, w_refe), f"efs {name}"
        assert np.array_equal(est.u, u_ref) and np.array_equal(est.v, v_ref)


def test_large_window_kernels_bit_identical_under_cancellation():
    """Adversarial regime: huge feature magnitudes where <w,x> suffers
    catastrophic cancellation, so near-margin decisions are fragile. One
    3000-row window must keep the reference trajectory bit-identical."""
    import numpy as np

    from oracle_ref import efs_window, ofs_window
    from pystreamfs_spark.kernels.efs import EFSState, efs_update
    from pystreamfs_spark.kernels.ofs import OFSState, ofs_update

    rng = np.random.default_rng(77)
    m, n = 16, 3000
    # paired ±huge columns: products ~1e8 cancel to O(1..1e3) margins
    base = rng.normal(size=(n, m // 2)) * 1e4
    X = np.concatenate([base, -base + rng.normal(size=(n, m // 2))], axis=1)
    y = rng.integers(0, 2, size=n).astype(float)

    _, w_eng = ofs_update(OFSState.init(m, 5), X, y)
    w_ref = ofs_window(X, y, np.zeros(m), 5)
    assert np.array_equal(w_eng, w_ref), "ofs cancellation"

    est, w_eefs = efs_update(EFSState.init(m), X, y)
    w_refe, u_ref, v_ref = efs_window(X, y, np.ones(m) * 2, np.ones(m), 1.5, 0.5, 1.0, 1.0)
    assert np.array_equal(w_eefs, w_refe), "efs cancellation"
    assert np.array_equal(est.u, u_ref) and np.array_equal(est.v, v_ref)


@pytest.mark.parametrize("strategy", [fold_weights, fold_weights_stream])
def test_capped_accuracy_matches_oracle(spark, featurized, per_conv_matrices, strategy):
    """Both feeders' capped prequential prefix against the oracle's
    X[max(0, i-M):i] rule — not only against each other."""
    M = 20
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        eng = _collect_engine(
            strategy(
                featurized, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES,
                with_accuracy=True, max_train_rows=M,
            )
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    capped = 0
    for conv_id, (X, y) in per_conv_matrices.items():
        ora = simulate(
            X, y, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES,
            with_accuracy=True, max_train_rows=M,
        )
        assert [eng[conv_id][wid].acc for wid in range(len(ora["acc"]))] == ora["acc"], conv_id
        assert [eng[conv_id][wid].train_rows for wid in range(len(ora["acc"]))] == ora["train_rows"]
        capped += sum(t > M for t in ora["train_rows"])
    assert capped  # the cap bites


def _entity_frame(spark, ids, id_type):
    """Three entities with interleaved arrival; ``ids`` gives their ids."""
    import datetime as dt

    rng = np.random.default_rng(4)
    t0 = dt.datetime(2024, 1, 1)
    rows, per_entity = [], {}
    for e, n in zip(ids, (20, 17, 5)):
        X = rng.normal(size=(n, 6))
        y = (X[:, 0] > 0).astype(float)
        per_entity[e] = (X, y)
        rows += [(e, i, t0 + dt.timedelta(seconds=i), X[i].tolist(), float(y[i])) for i in range(n)]
    rng.shuffle(rows)
    schema = f"conv_id {id_type}, turn_idx int, ts timestamp, features array<double>, label double"
    return spark.createDataFrame(rows, schema), per_entity


@pytest.mark.parametrize(
    "ids,id_type,out_ids",
    [(("a", None, "b"), "string", ("a", None, "b")), ((1, None, 22), "bigint", ("1", None, "22"))],
)
def test_degenerate_entity_ids(spark, ids, id_type, out_ids):
    """A null id folds as one entity whose output conv_id is NULL; a
    non-string id comes out as its string form — identically in both
    feeders, across tiny Arrow batches."""
    df, per_entity = _entity_frame(spark, ids, id_type)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        got = {
            strategy.__name__: {
                (r.conv_id, r.window_id): (r.w, list(r.selected), r.win_rows, r.acc, r.train_rows)
                for r in strategy(
                    df, kernel="ofs", batch_size=6, num_features=3,
                    with_accuracy=True, max_train_rows=8,
                ).collect()
            }
            for strategy in (fold_weights, fold_weights_stream)
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got["fold_weights"] == got["fold_weights_stream"]
    assert {k[0] for k in got["fold_weights"]} == set(out_ids)
    for e, out_id in zip(ids, out_ids):
        X, y = per_entity[e]
        ora = simulate(X, y, kernel="ofs", batch_size=6, num_features=3, with_accuracy=True, max_train_rows=8)
        for wid, w in enumerate(ora["w"]):
            row = got["fold_weights"][(out_id, wid)]
            np.testing.assert_allclose(np.array(row[0]), w, rtol=1e-9, atol=1e-12)
            assert row[1] == ora["selected"][wid]
            assert (row[3], row[4]) == (ora["acc"][wid], ora["train_rows"][wid])
        assert (out_id, len(ora["w"])) not in got["fold_weights"]


@pytest.mark.skipif(not __import__("os").path.exists("/proc/self/statm"), reason="needs /proc")
@pytest.mark.parametrize("strategy", [fold_weights, fold_weights_stream])
def test_fold_reports_memory(featurized, strategy):
    rows = strategy(featurized, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES).collect()
    assert rows and all(r.mem_bytes > 0 for r in rows)
