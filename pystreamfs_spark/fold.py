"""Per-entity ordered stateful fold — the engine's one custom operator.

The reference threads one global weight vector through a strictly-ordered
window loop (/root/reference/pystreamfs/pystreamfs.py:59-69). The engine's
state scope is the entity (``conv_id``): parallel across conversations,
strictly ordered within one — the faithful transcript semantics AND the
scalability unlock (SURVEY.md §7).

:class:`WindowLoop` is that loop, written once and Spark-free: it cuts an
ordered row stream into count windows, carries the partial tail and the
prequential prefix across calls, and returns one record per completed
window. Every fold is a thin feeder around it:

- :func:`fold_weights` — ``groupBy(conv_id).applyInPandas``: one
  ``feed(final=True)`` per whole conversation.
- :func:`fold_weights_stream` — ``repartition(conv_id) +
  sortWithinPartitions + mapInArrow``: a partition-local scan that feeds each
  entity segment of each Arrow batch, so kernel state carries across batch
  boundaries. Memory is O(arrow batch + kernel state + current window), not
  O(conversation) — a 10⁹-turn conversation streams through one task without
  materializing.
- ``streaming.adapter.stream_fold`` (one feed per micro-batch) and
  ``fsds_merge.fold_fsds_fast`` (one feed per chunk, seeded with the prefix
  sketch).

Both batch folds do exactly one hash shuffle on conv_id (none when the
input is already partitioned); everything upstream (featurization) and
downstream (stability, joins) stays in whole-stage codegen. Entity ids are
folded as strings: a non-string id column is cast with Spark's cast, and a
null id is one entity whose output ``conv_id`` is NULL.
"""

from __future__ import annotations

import mmap
import time
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pystreamfs_spark.classify import knn_accuracy
from pystreamfs_spark.kernels import KERNELS, init_state, select_top_m, update


def _mem_bytes() -> int:
    """Resident bytes of this worker process (the reference's per-window
    memory series, pystreamfs.py:74); -1 where ``/proc`` is unavailable."""
    try:
        with open("/proc/self/statm", "rb") as f:
            return int(f.read().split()[1]) * mmap.PAGESIZE
    except FileNotFoundError:
        return -1


_NO_ENTITY = object()  # scan sentinel: no entity seen yet


class WindowLoop:
    """The per-entity window loop shared by every fold.

    Cuts one entity's ordered rows into count windows of ``batch_size``,
    threads the kernel state through them and selects the top
    ``num_features`` after each (reference pystreamfs.py:59-69). Rows may
    arrive through :meth:`feed` in any chunking: a partial last window is
    carried to the next call until ``final=True`` (or :meth:`finish`) flushes
    it, so the records never depend on how the rows were split.

    ``with_accuracy`` scores each window prequentially with k-NN on the
    selected features, trained on the rows of the earlier windows — only the
    most recent ``max_train_rows`` of them when a cap is given — and, at the
    first window, on the window itself (reference utils.py:39-42).
    ``train_rows`` reports the full prefix length either way.

    ``state`` and ``window_id`` resume a loop (a Structured Streaming state
    row, a merged FSDS prefix sketch); ``state``, ``wid``, ``carry_X``,
    ``carry_y`` and ``carry_ts`` may be read back and restored.

    Each record is ``(window_id, win_rows, ts_end, w, selected, acc,
    train_rows, elapsed_sec)``; ``ts_end`` is None without ``ts`` and
    ``elapsed_sec`` times the kernel update plus the top-m selection.
    """

    def __init__(
        self,
        kernel: str,
        m: int,
        batch_size: int,
        num_features: int,
        kernel_kwargs: dict[str, Any] | None = None,
        max_train_rows: int | None = None,
        *,
        with_accuracy: bool = False,
        state: Any = None,
        window_id: int = 0,
    ) -> None:
        if batch_size < 1:
            raise ValueError(f"batch_size must be >= 1, got {batch_size}")
        self.kernel = kernel
        self.batch_size = batch_size
        self.num_features = num_features
        self.max_train_rows = max_train_rows
        self.with_accuracy = with_accuracy
        if state is None:
            state = init_state(kernel, m, num_features=num_features, **(kernel_kwargs or {}))
        self.state = state
        self.wid = window_id
        self.carry_X: np.ndarray | None = None
        self.carry_y: np.ndarray | None = None
        self.carry_ts: np.ndarray | None = None
        # prequential prefix: rows of the completed windows (capped suffix)
        self.buf_X: np.ndarray | None = None
        self.buf_y: np.ndarray | None = None
        self.rows_seen = 0

    def feed(
        self, X: np.ndarray, y: np.ndarray, ts: np.ndarray | None = None, final: bool = False
    ) -> list[tuple]:
        """Append ordered rows; return the records of the windows they complete."""
        if self.carry_X is not None and len(self.carry_X):
            X = np.concatenate([self.carry_X, X])
            y = np.concatenate([self.carry_y, y])
            if ts is not None:
                ts = np.concatenate([self.carry_ts, ts])
        n = len(X)
        bs = self.batch_size
        out: list[tuple] = []
        start = 0
        while n - start >= bs or (final and start < n):
            stop = min(start + bs, n)
            Xw, yw = X[start:stop], y[start:stop]
            t0 = time.perf_counter()
            self.state, w = update(self.kernel, self.state, Xw, yw)
            selected = select_top_m(w, self.num_features)
            elapsed = time.perf_counter() - t0
            acc, train_rows = self._score(Xw, yw, selected) if self.with_accuracy else (None, 0)
            ts_end = None if ts is None else ts[stop - 1]
            out.append((self.wid, stop - start, ts_end, w, selected, acc, train_rows, elapsed))
            self.wid += 1
            start = stop
        self.carry_X, self.carry_y = X[start:].copy(), y[start:].copy()
        self.carry_ts = None if ts is None else ts[start:].copy()
        return out

    def finish(self) -> list[tuple]:
        """End of the entity's rows: flush the carried partial window."""
        if self.carry_X is None:
            return []
        ts = None if self.carry_ts is None else self.carry_ts[:0]
        return self.feed(self.carry_X[:0], self.carry_y[:0], ts, final=True)

    def _score(self, Xw: np.ndarray, yw: np.ndarray, selected: np.ndarray) -> tuple[float, int]:
        x_test = Xw[:, selected]
        if self.rows_seen == 0:  # t=0 quirk: train = test
            acc, train_rows = knn_accuracy(x_test, yw, x_test, yw), len(Xw)
            self.buf_X, self.buf_y = Xw, yw
        else:
            acc = knn_accuracy(self.buf_X[:, selected], self.buf_y, x_test, yw)
            train_rows = self.rows_seen
            self.buf_X = np.concatenate([self.buf_X, Xw])
            self.buf_y = np.concatenate([self.buf_y, yw])
        if self.max_train_rows is not None:
            lo = max(0, len(self.buf_X) - self.max_train_rows)
            self.buf_X, self.buf_y = self.buf_X[lo:], self.buf_y[lo:]
        self.rows_seen += len(Xw)
        return acc, train_rows


def _entity_as_string(df: DataFrame, entity_col: str) -> DataFrame:
    """Both folds emit ``conv_id`` as a string: cast any other id type once,
    in Spark, so the two feeders agree on its text (nulls stay null)."""
    if isinstance(df.schema[entity_col].dataType, StringType):
        return df
    return df.withColumn(entity_col, F.col(entity_col).cast(StringType()))


WEIGHTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_id", LongType()),
        StructField("win_rows", LongType()),
        StructField("ts_end", TimestampType()),
        StructField("w", ArrayType(DoubleType())),
        StructField("selected", ArrayType(IntegerType())),
        StructField("acc", DoubleType()),
        StructField("train_rows", LongType()),
        StructField("elapsed_sec", DoubleType()),
        StructField("mem_bytes", LongType()),
    ]
)


def fold_weights(
    df: DataFrame,
    kernel: str = "ofs",
    batch_size: int = 50,
    num_features: int = 5,
    kernel_kwargs: dict[str, Any] | None = None,
    with_accuracy: bool = False,
    max_train_rows: int | None = None,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    features_col: str = "features",
    label_col: str = "label",
    ts_col: str = "ts",
) -> DataFrame:
    """Grouped-map fold: one applyInPandas call per conversation.

    Input must have (entity_col, *order_cols, features array<double>,
    label double, ts timestamp). Output: one row per (conv_id, window_id)
    with the post-window weight vector, top-m selection and metrics.

    It feeds each whole conversation to the loop at once, so it is the
    cross-check for :func:`fold_weights_stream`'s Arrow-batch carry.
    ``with_accuracy`` trains on the whole prefix unless ``max_train_rows``
    caps it.
    """
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; available: {sorted(KERNELS)}")
    kk = dict(kernel_kwargs or {})
    order = list(order_cols)

    def fold_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        X = np.stack(pdf[features_col].to_numpy()).astype(np.float64, copy=False)
        loop = WindowLoop(
            kernel, X.shape[1], batch_size, num_features, kk, max_train_rows, with_accuracy=with_accuracy
        )
        recs = loop.feed(X, pdf[label_col].to_numpy(dtype=np.float64), pdf[ts_col].to_numpy(), final=True)
        mem = _mem_bytes()
        conv_id = pdf[entity_col].iloc[0]
        out = pd.DataFrame(
            [
                (conv_id, wid, rows, ts_end, w.tolist(), sel.tolist(), acc, trows, elapsed, mem)
                for wid, rows, ts_end, w, sel, acc, trows, elapsed in recs
            ],
            columns=[f.name for f in WEIGHTS_SCHEMA.fields],
        )
        # np.datetime64 scalars in an object column confuse Arrow; normalize
        out["ts_end"] = pd.to_datetime(out["ts_end"])
        return out

    cols = [entity_col, *order, features_col, label_col]
    if ts_col not in cols:
        cols.append(ts_col)
    prepared = _entity_as_string(df.select(*dict.fromkeys(cols)), entity_col)
    return prepared.groupBy(entity_col).applyInPandas(fold_fn, WEIGHTS_SCHEMA)


def fold_weights_stream(
    df: DataFrame,
    kernel: str = "ofs",
    batch_size: int = 50,
    num_features: int = 5,
    kernel_kwargs: dict[str, Any] | None = None,
    num_partitions: int | None = None,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    features_col: str = "features",
    label_col: str = "label",
    ts_col: str = "ts",
    assume_partitioned: bool = False,
    with_accuracy: bool = False,
    max_train_rows: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Partition-streaming fold: hash-partition by entity, sort within
    partitions, then scan Arrow batches carrying kernel state across batch
    and conversation boundaries. Bounded memory per task regardless of
    conversation length.

    ``materialize`` (default True) lazily ``localCheckpoint``s the weights
    output so multi-consumer pipelines (FSCR ⋈ Nogueira) execute the fold
    once — see the return-site note. Pass False to get the raw plan (plan
    inspection, or a caller managing its own persistence).

    ``with_accuracy=True`` adds prequential evaluation with a BOUNDED prefix:
    ``max_train_rows`` is required and caps the per-entity training buffer to
    its most recent rows (memory stays O(max_train_rows·m + batch)). Within
    that cap the semantics equal :func:`fold_weights`'s (strict prefix, t=0
    train==test quirk); entities longer than the cap train on the capped
    suffix — the same documented deviation as ``fold_weights(max_train_rows=)``.
    Use :func:`fold_weights` when the faithful unbounded prefix is required.

    ``assume_partitioned=True`` skips the repartition+sort when the caller
    guarantees the input is already partitioned by ``entity_col`` and sorted
    by (entity, *order) within partitions — true for the direct output (or
    cache) of ``featurize_turns``'s window stage, or a bucketed/sorted table.
    The fold then runs as a pure map stage: zero shuffles.
    """
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; available: {sorted(KERNELS)}")
    if with_accuracy and max_train_rows is None:
        raise ValueError(
            "fold_weights_stream(with_accuracy=True) requires max_train_rows — "
            "the streaming scan keeps a bounded prefix buffer; use fold_weights "
            "for the unbounded faithful prefix"
        )
    kk = dict(kernel_kwargs or {})
    order = list(order_cols)
    cols = list(dict.fromkeys([entity_col, *order, features_col, label_col, ts_col]))

    _TS_NULL = -(2**63)  # int64 min == Arrow NaT

    def scan(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        import pyarrow.compute as pa_compute

        out_type_w = pa.list_(pa.float64())
        out_type_sel = pa.list_(pa.int32())
        ts_type = None  # set from the first input batch (preserves Spark's tz)

        cur_conv: Any = _NO_ENTITY  # a null id is an entity, so not None
        loop: WindowLoop | None = None
        # per-output-batch accumulators: entity id + WindowLoop record
        o_conv: list = []
        o_recs: list[tuple] = []

        def emit(recs: list[tuple]) -> None:
            o_conv.extend([cur_conv] * len(recs))
            o_recs.extend(recs)

        def flush_output() -> "pa.RecordBatch":
            k = len(o_recs)
            wid, rows, ts_end, w, sel, acc, trows, elapsed = zip(*o_recs)
            w_flat = np.concatenate(w)
            sel_flat = np.concatenate(sel).astype(np.int32)
            # offsets from ACTUAL lengths (a selection is min(num_features, m)
            # entries; m may differ across entities in exotic inputs)
            w_off = np.zeros(k + 1, dtype=np.int32)
            np.cumsum([len(v) for v in w], out=w_off[1:])
            sel_off = np.zeros(k + 1, dtype=np.int32)
            np.cumsum([len(v) for v in sel], out=sel_off[1:])
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(o_conv, type=pa.string()),
                    pa.array(wid, type=pa.int64()),
                    pa.array(rows, type=pa.int64()),
                    pa.array(
                        [None if v == _TS_NULL else int(v) for v in ts_end], type=pa.int64()
                    ).cast(ts_type),
                    pa.ListArray.from_arrays(pa.array(w_off), pa.array(w_flat, type=pa.float64()), type=out_type_w),
                    pa.ListArray.from_arrays(pa.array(sel_off), pa.array(sel_flat, type=pa.int32()), type=out_type_sel),
                    pa.array(acc, type=pa.float64()),
                    pa.array(trows, type=pa.int64()),
                    pa.array(elapsed, type=pa.float64()),
                    pa.array(np.full(k, _mem_bytes(), dtype=np.int64)),
                ],
                names=[f.name for f in WEIGHTS_SCHEMA.fields],
            )
            o_conv.clear()
            o_recs.clear()
            return batch

        idx = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if idx is None:
                names = rb.schema.names
                idx = {c: names.index(c) for c in (entity_col, features_col, label_col, ts_col)}
                ts_type = rb.schema.field(idx[ts_col]).type
            # entity boundaries computed IN Arrow (pc.not_equal on shifted
            # slices): a to_numpy on a string column materializes one Python
            # object per row — measured ~15% of the whole scan; only one
            # .as_py() per contiguous entity segment is needed instead
            conv_col = rb.column(idx[entity_col])
            feats = rb.column(idx[features_col])
            vals = feats.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            offs = feats.offsets.to_numpy(zero_copy_only=False)
            m = int(offs[1] - offs[0])
            Xb = vals[offs[0] : offs[-1]].reshape(rb.num_rows, m)
            yb = rb.column(idx[label_col]).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            ts_arrow = rb.column(idx[ts_col]).cast(pa.int64())
            if ts_arrow.null_count:
                # null timestamps → int64 min sentinel; emitted back as null
                ts_arrow = ts_arrow.fill_null(_TS_NULL)
            tsb = ts_arrow.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)

            if rb.num_rows > 1:
                prev, nxt = conv_col.slice(0, rb.num_rows - 1), conv_col.slice(1)
                neq = pa_compute.not_equal(nxt, prev)
                if conv_col.null_count:
                    # null ids: a boundary where exactly one side is null
                    one_null = pa_compute.xor(pa_compute.is_null(nxt), pa_compute.is_null(prev))
                    neq = pa_compute.fill_null(pa_compute.or_kleene(neq, one_null), False)
                bounds = np.flatnonzero(neq.to_numpy(zero_copy_only=False)) + 1
            else:
                bounds = np.empty(0, dtype=np.int64)
            edges = [0, *bounds.tolist(), rb.num_rows]
            for lo, hi in zip(edges[:-1], edges[1:]):
                conv = conv_col[lo].as_py()
                if conv != cur_conv:
                    if loop is not None:
                        emit(loop.finish())
                    cur_conv = conv
                    loop = WindowLoop(
                        kernel, m, batch_size, num_features, kk, max_train_rows, with_accuracy=with_accuracy
                    )
                emit(loop.feed(Xb[lo:hi], yb[lo:hi], tsb[lo:hi]))
            if o_recs:
                yield flush_output()
        if loop is not None:
            emit(loop.finish())
        if o_recs:
            yield flush_output()

    # Hash-partition on the entity (NOT range): no sampling pass, better
    # balance across many entities, and — crucially — the exchange is
    # eliminated by Catalyst when the upstream featurization window already
    # hash-partitioned by the same key. Skewed giant entities are bounded by
    # the streaming scan's O(batch) memory either way.
    prepared = _entity_as_string(df.select(*cols), entity_col)
    if not assume_partitioned:
        parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        prepared = (
            prepared.repartition(int(parts), entity_col)
            .sortWithinPartitions(entity_col, *order)
        )
    # Lazy localCheckpoint on the weights output (r06, measured): the fold
    # is the expensive stage and its output is windows-table-sized (orders
    # smaller than the input — one row per entity×window), while stability
    # pipelines consume it several times (FSCR's window + Nogueira's two
    # aggregation branches = three executions of the whole Arrow fold
    # without this). First action materializes and caches; single-consumer
    # callers measured ZERO overhead (fold count 1.45 s with or without),
    # the fscr⋈nogueira pipeline drops 2.9 → 1.66 s. Nothing pushes
    # through the Python boundary anyway, so no pushdown is lost. Swap for
    # checkpoint() with a durable dir on a real cluster (the graph.py
    # note) if executor loss must be recoverable mid-query.
    out = prepared.mapInArrow(scan, WEIGHTS_SCHEMA)
    return out.localCheckpoint(eager=False) if materialize else out
