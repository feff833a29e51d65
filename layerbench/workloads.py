"""Input generation, the workloads, and their output checks.

The gated workloads are ``fs_pipeline`` and ``curation_chain``. The traced
run of ``fs_pipeline`` also runs the fold's recovery paths (checkpoint +
resume, and the Structured Streaming fold) on the same input, so their
layers are measured without adding a workload to every timed run.

Each workload is one function written once for both modes. Untraced, the
``Trace`` helper does nothing. Traced, it records a span around each call
into a layer, labels the layer's Spark jobs with ``setJobGroup`` and forces
materialization at the layer boundary (cache + count), so a layer's span
holds that layer's work and no other.

Inputs are generated from the seed by the benchmark (using the package's
``synthesize_transcripts`` and ``featurize_turns`` for transcripts, NumPy for
documents); the program under test only reads them back from Parquet.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from pystreamfs_spark.checkpoint import CheckpointedFold
from pystreamfs_spark.fold import fold_weights, fold_weights_stream
from pystreamfs_spark.functions import featurize_turns
from pystreamfs_spark.functions.text import quality_score
from pystreamfs_spark.operators import fscr, nogueira_stability
from pystreamfs_spark.operators.chunk import chunk_by_tokens
from pystreamfs_spark.operators.dedup import minhash_lsh_candidates, near_dedup
from pystreamfs_spark.operators.quality import decontaminate, repetition_signals
from pystreamfs_spark.operators.sampling import hash_split
from pystreamfs_spark.sources.transcripts import synthesize_transcripts
from pystreamfs_spark.streaming import stream_fold

BATCH = 50
NUM_FEATURES = 5
FSDS_KW = {"k": 2, "ell": 0}
# Half of runner's default 8 epochs and a stream of 4 files instead of 8:
# every epoch commit and every micro-batch costs a fixed set of small Spark
# jobs, and the traced run has to fit the benchmark's time budget. Every code
# path (partial run, resume, state carried across micro-batches) still runs.
CK_EPOCHS = 4
CK_FIRST_RUN_EPOCHS = 2
STREAM_FILES = 4
NEAR_DEDUP_KW = {"n_bands": 8, "k": 3, "min_shared_bands": 2, "max_bucket_size": 200}
CHUNK_SIZE = 64
RTOL = 1e-5

# Input size per workload: "full" is what the benchmark measures, "tiny" is
# the warm-up and self-test size. Transcript sizes are turn counts (whole
# conversations are kept until the count is reached), so every seed gives
# the same input size; document sizes are a document count.
SIZES = {
    "fs_pipeline": {"full": 60_000, "tiny": 1_500},
    "curation_chain": {"full": 2_000, "tiny": 300},
}

# Untimed full-size runs between the warm-up and the timed runs, and the
# fewest timed runs one invocation makes (it keeps going past --seconds until
# it has them). Both are counts, not seconds, so that on a slower machine the
# timed runs are still the same runs of the JVM's JIT warm-up. On a 4-core VM,
# after the warm-up, fs_pipeline's first full-size run took ~1.6x a later one
# and the next ones kept getting faster for about four more runs;
# curation_chain's first took ~1.2x a later one.
# One curation_chain run (~10 s) fills the timed window by itself: over ten
# seeds its first timed run alone spread as little as the mean of two, and a
# second would take the benchmark's runs too close to their time budget.
PRIME_RUNS = {"fs_pipeline": 3, "curation_chain": 1}
MIN_REPS = {"fs_pipeline": 5, "curation_chain": 1}


class Trace:
    """Layer boundaries: a no-op when ``tracer`` is None."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self._cached: list = []
        self.counts: dict[str, int] = {}  # rows at each forced boundary, by layer

    @property
    def on(self) -> bool:
        return self.tracer is not None

    def layer(self, name: str, group: str | None = None):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, group or name.split(".")[0])

    def force(self, df):
        """Traced: cache and count, so the next layer starts from materialized rows."""
        if self.tracer is None:
            return df
        df = df.cache()
        self.counts[self.tracer.current] = df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


# ---------------------------------------------------------------- inputs


def write_transcripts(spark, path: str, turns: int, seed: int) -> dict[str, int]:
    """Synthesize transcripts and keep whole conversations, in id order, while
    they fit in ``turns``; returns the kept conversations' lengths. The heavy tail
    (every 97th conversation has 2-5k turns) is kept: a conversation is only
    skipped when it would overshoot the budget."""
    n_convs = max(20, int(turns / 57 * 1.4))  # ~57 turns per conversation on average
    # the count only needs the lengths: Catalyst prunes the text generation
    lengths = synthesize_transcripts(spark, n_convs=n_convs, seed=seed).groupBy("conv_id").count().collect()
    keep, total = {}, 0
    for row in sorted(lengths):
        if total + row["count"] <= turns:
            keep[row["conv_id"]] = row["count"]
            total += row["count"]
    # conversation ids are zero-padded, so sorted order is id order
    last = int(max(keep)[len("conv"):])
    ids = spark.createDataFrame([(c,) for c in keep], "conv_id string")
    synth = synthesize_transcripts(spark, n_convs=last + 1, seed=seed)
    synth.join(F.broadcast(ids), "conv_id").write.mode("overwrite").parquet(path)
    return keep


def write_stream_files(spark, src_path: str, out_dir: str) -> None:
    """Featurize once and cut every conversation into ``STREAM_FILES``
    consecutive turn ranges, one Parquet file per range, so that reading the
    files in order replays each conversation in turn order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    feats = featurize_turns(spark.read.parquet(src_path)).select("conv_id", "turn_idx", "features", "label")
    n = F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    pdf = feats.withColumn("slice", F.floor(F.col("turn_idx") * STREAM_FILES / n).cast("int")).toPandas()
    schema = pa.schema(
        [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("features", pa.list_(pa.float64())), ("label", pa.float64())]
    )
    os.makedirs(out_dir)
    for s, part in pdf.groupby("slice"):
        path = os.path.join(out_dir, f"slice-{s}.parquet")
        pq.write_table(pa.Table.from_pandas(part.drop(columns="slice"), schema=schema, preserve_index=False), path)
        # the file source takes the oldest file first: pin the order
        os.utime(path, (1_000_000_000 + s, 1_000_000_000 + s))


_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow group agg filter query "
    "big key window row table stream merge data join vector customer plan state fold model"
).split()
_STOP = "the a of and to in is it".split()


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """A documents table shaped like the sf0.1 ``documents`` fixture
    (doc_id, text, lang, source, n_chars), with planted low-quality,
    repetitive, near-duplicate and exact-duplicate documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(_WORDS + _STOP)
    probs = np.r_[np.full(len(_WORDS), 0.6 / len(_WORDS)), np.full(len(_STOP), 0.4 / len(_STOP))]
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random()
        if i > 20 and kind < 0.02:  # exact copy of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 20 and kind < 0.10:  # near copy: two words replaced
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        elif kind < 0.16:  # low quality: short junk tokens, no stopwords
            texts.append(" ".join(rng.choice(["x", "yy", "z!", "#", "q?"], rng.integers(10, 60))))
        elif kind < 0.19:  # repetitive: one trigram over and over
            texts.append(" ".join(list(rng.choice(vocab, 3)) * int(rng.integers(5, 20))))
        else:
            texts.append(" ".join(rng.choice(vocab, rng.integers(10, 90), p=probs)))
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "zh"], n_docs, p=[0.8, 0.1, 0.1]),
            "source": [f"src{v}" for v in rng.integers(0, 10, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------- workloads


def run_fs_pipeline(spark, inp: dict, t: Trace) -> dict:
    """transcripts Parquet -> featurize -> streaming OFS fold -> fscr x nogueira."""
    with t.layer("sources"):
        src = t.force(spark.read.parquet(inp["transcripts"]))
    with t.layer("features"):
        feats = t.force(featurize_turns(src))
    with t.layer("fold"):
        w = fold_weights_stream(feats, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES)
        if t.on:
            w.count()  # materializes the fold's own lazy localCheckpoint
    with t.layer("stability"):
        out = (
            fscr(w, NUM_FEATURES)
            .join(nogueira_stability(w), "conv_id")
            .select("conv_id", "window_id", "win_rows", "w", "selected", "fscr", "k_windows", "stability", "elapsed_sec")
            .toPandas()
        )
    return {"windows": out, "features": feats}


def run_checkpoint_resume(spark, feats, out_dir: str, t: Trace) -> dict:
    """What ``runner.main`` does, in-process: a checkpointed FSDS fold cut
    short after half its epochs, then a second run that resumes."""
    shutil.rmtree(out_dir, ignore_errors=True)
    with t.layer("checkpoint.first_run", "checkpoint"):
        first = CheckpointedFold(spark, out_dir, n_epochs=CK_EPOCHS).run(
            feats, kernel="fsds", kernel_kwargs=FSDS_KW, max_epochs_this_run=CK_FIRST_RUN_EPOCHS
        )
    with t.layer("checkpoint.resume", "checkpoint"):
        resumed = CheckpointedFold(spark, out_dir, n_epochs=CK_EPOCHS)
        already = sorted(resumed.committed_epochs())
        second = resumed.run(feats, kernel="fsds", kernel_kwargs=FSDS_KW)
        n_windows = resumed.weights().count()
    return {"first": first, "already": already, "second": second, "n_windows": n_windows, "ck_out": out_dir}


def run_stream_fold(spark, inp: dict, t: Trace) -> dict:
    """In-order Parquet files -> readStream(maxFilesPerTrigger=1) ->
    stream_fold(ofs) -> Parquet sink, trigger(availableNow)."""
    out, ck = inp["stream_out"], inp["stream_ck"]
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    with t.layer("streaming"):
        sdf = spark.readStream.schema(inp["stream_schema"]).option("maxFilesPerTrigger", 1).parquet(inp["stream_in"])
        query = (
            stream_fold(sdf, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    return {"stream_out": out, "progress": query.recentProgress, "run_id": str(query.runId)}


def run_recovery_paths(spark, inp: dict, feats, t: Trace) -> dict:
    """The fold layer used two other ways on fs_pipeline's input, for the
    traced run only: checkpoint + resume (materialize=False + cache, Parquet
    and ledger writes beside the reads) on its features, then the Structured
    Streaming fold over the same turns replayed from files."""
    return {**run_checkpoint_resume(spark, feats, inp["ck_out"], t), **run_stream_fold(spark, inp, t)}


def run_curation_chain(spark, inp: dict, t: Trace) -> dict:
    """quality gate -> near_dedup -> decontaminate -> hash_split -> chunk_by_tokens."""
    docs = spark.read.parquet(inp["documents"])
    with t.layer("quality.gate", "quality"):
        rep = repetition_signals(docs, k=3)
        good = (
            docs.where(quality_score(F.col("text")) >= 0.5)
            .join(rep.where((F.col("top_kgram_frac") <= 0.6) & (F.col("dup_token_frac") <= 0.95)), "doc_id")
            .select(docs["*"])
            .withColumn("q", quality_score(F.col("text")))
        )
        good = t.force(good)
    # one span around near_dedup: the event log splits it into the candidate
    # pairs (dedup) and the connected components (graph)
    with t.layer("near_dedup", "dedup"):
        clusters = t.force(near_dedup(good, representative_col="q", **NEAR_DEDUP_KW))
    keep = good.join(clusters.where("is_canonical"), "doc_id")
    with t.layer("quality.decontaminate", "quality"):
        evalset = docs.where(F.col("doc_id") % 97 == inp["eval_slice"])
        decon = decontaminate(keep, evalset, n=5)
        clean = t.force(keep.join(decon.where(~F.col("contaminated")).select("doc_id"), "doc_id"))
    with t.layer("sampling"):
        split = t.force(hash_split(clean, key_col="doc_id"))
    with t.layer("chunk"):
        chunks = chunk_by_tokens(split, chunk_size=CHUNK_SIZE)
        out = chunks.join(split.select("doc_id", "split"), "doc_id").toPandas()
    if t.on:
        # sizes of the graph near_dedup built, counted after the spans with the
        # arguments near_dedup passes to minhash_lsh_candidates
        kw = NEAR_DEDUP_KW
        cands = minhash_lsh_candidates(good, "text", "doc_id", kw["n_bands"], kw["k"], 1, kw["max_bucket_size"], "md5")
        t.counts["dedup.candidate_pairs"] = cands.count()
        t.counts["graph.edges"] = cands.where(F.col("n_shared_bands") >= kw["min_shared_bands"]).count()
    return {"chunks": out}


WORKLOADS = {
    "fs_pipeline": run_fs_pipeline,
    "curation_chain": run_curation_chain,
}


# ---------------------------------------------------------------- checks


def _key(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["conv_id", "window_id"], kind="mergesort").reset_index(drop=True)


def _same_weights(got: pd.DataFrame, ref: pd.DataFrame, what: str) -> list[str]:
    """Exact keys and selections, allclose weights (the north rule)."""
    got, ref = _key(got), _key(ref)
    if len(got) != len(ref):
        return [f"{what}: {len(got)} windows != reference {len(ref)}"]
    if len(got) == 0:
        return []
    if not (got["conv_id"].to_numpy() == ref["conv_id"].to_numpy()).all() or not (
        got["window_id"].to_numpy() == ref["window_id"].to_numpy()
    ).all():
        return [f"{what}: window keys differ from reference"]
    if any(list(a) != list(b) for a, b in zip(got["selected"], ref["selected"])):
        return [f"{what}: selected sets differ from reference"]
    if not np.allclose(np.stack(got["w"].to_numpy()), np.stack(ref["w"].to_numpy()), rtol=RTOL, atol=1e-12):
        return [f"{what}: weights not allclose to reference"]
    return []


def _reference_stability(ref: pd.DataFrame) -> pd.DataFrame:
    """FSCR and Nogueira stability recomputed in NumPy from reference selections."""
    rows = []
    for conv, g in _key(ref).groupby("conv_id", sort=False):
        sels = [set(s) for s in g["selected"]]
        fs = [np.nan] + [len(a - b) / NUM_FEATURES for a, b in zip(sels, sels[1:])]
        k, m = len(sels), len(g["w"].iloc[0])
        qbar = float(np.mean([len(s) for s in sels])) / m
        stab = np.nan
        if k >= 2 and 0 < qbar < 1:
            counts = np.zeros(m)
            for s in sels:
                counts[list(s)] += 1
            p = counts / k
            stab = 1.0 - (np.sum(k / (k - 1) * p * (1 - p)) / m) / (qbar * (1 - qbar))
        rows += [(conv, wid, f, stab) for wid, f in zip(g["window_id"], fs)]
    return pd.DataFrame(rows, columns=["conv_id", "window_id", "fscr", "stability"])


def checkpoint_windows(spark, out_dir: str) -> pd.DataFrame:
    w = CheckpointedFold(spark, out_dir, n_epochs=CK_EPOCHS).weights()
    return w.select("conv_id", "window_id", "win_rows", "w", "selected", "elapsed_sec", "epoch").toPandas()


def _selection_digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for conv, wid, sel in _key(df)[["conv_id", "window_id", "selected"]].itertuples(index=False):
        h.update(f"{conv}:{wid}:{sorted(int(x) for x in sel)};".encode())
    return h.hexdigest()


def _weights_digest(w: pd.DataFrame, prefix: str) -> tuple[dict, dict]:
    W = np.stack(w["w"].to_numpy())
    exact = {f"{prefix}windows": len(w), f"{prefix}selected_sha256": _selection_digest(w)}
    return exact, {f"{prefix}w_sum": W.sum(axis=0).tolist(), f"{prefix}w_abs_sum": np.abs(W).sum(axis=0).tolist()}


def digest(workload: str, result: dict, spark) -> dict:
    """The values pinned in expected.json for the default seed, by entry:
    the workload's own output, and the traced run's recovery paths."""
    if workload == "curation_chain":
        c = result["chunks"]
        splits = c.drop_duplicates("doc_id")["split"].value_counts().sort_index()
        exact = {
            "chunks": len(c),
            "canonical_docs": int(c["doc_id"].nunique()),
            "tokens": int(c["n_tokens"].sum()),
            "splits": {k: int(v) for k, v in splits.items()},
        }
        return {workload: {"exact": exact, "close": {}}}
    exact, close = _weights_digest(result["windows"], "")
    close["stability_sum"] = [float(np.nansum(result["windows"]["stability"].to_numpy(dtype=float)))]
    out = {workload: {"exact": exact, "close": close}}
    if "ck_out" in result:
        exact, close = _weights_digest(checkpoint_windows(spark, result["ck_out"]), "checkpoint.")
        e2, c2 = _weights_digest(spark.read.parquet(result["stream_out"]).toPandas(), "stream.")
        out[f"{workload}.recovery"] = {"exact": {**exact, **e2}, "close": {**close, **c2}}
    return out


def compare_digest(got: dict, pinned: dict) -> list[str]:
    errs = [f"{k}: {got['exact'].get(k)!r} != pinned {v!r}" for k, v in pinned["exact"].items() if got["exact"].get(k) != v]
    for k, v in pinned["close"].items():
        if not np.allclose(got["close"].get(k, []), v, rtol=RTOL, atol=1e-9):
            errs.append(f"{k} not allclose to pinned value")
    return errs


class Reference:
    """Reference outputs for one input, computed once per invocation through
    an independent path of the package: the grouped ``fold_weights`` (one
    applyInPandas call per conversation) on every 16th conversation plus the
    longest one, and window counts from the conversation lengths.
    ``recovery`` adds the FSDS reference for the checkpointed fold."""

    def __init__(self, workload: str, spark, inp: dict, recovery: bool = False):
        self.workload = workload
        self.inp = inp
        if workload == "curation_chain":
            self.docs = pd.read_parquet(inp["documents"]).set_index("doc_id")
            return
        lengths = inp["lengths"]
        convs = sorted(lengths)
        self.sample = set(convs[::16]) | {max(convs, key=lengths.get)}
        feats = featurize_turns(spark.read.parquet(inp["transcripts"])).where(F.col("conv_id").isin(sorted(self.sample)))
        self.n_windows = sum(-(-n // BATCH) for n in lengths.values())
        self.n_full_windows = sum(n // BATCH for n in lengths.values())
        self.ofs = fold_weights(feats, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES).toPandas()
        if recovery:
            fsds = fold_weights(feats, kernel="fsds", batch_size=BATCH, num_features=NUM_FEATURES, kernel_kwargs=FSDS_KW)
            self.fsds = fsds.toPandas()

    def _sampled(self, got: pd.DataFrame, ref: pd.DataFrame, total: int, what: str) -> list[str]:
        if len(got) != total:
            return [f"{what}: {len(got)} windows, expected {total} from the conversation lengths"]
        return _same_weights(got[got["conv_id"].isin(self.sample)], ref, what)

    def check(self, result: dict, spark) -> list[str]:
        if self.workload == "curation_chain":
            return self._check_curation(result)
        got = result["windows"]
        errs = self._sampled(got, self.ofs, self.n_windows, "fold")
        if not errs:
            stab = _reference_stability(self.ofs)
            g = _key(got[got["conv_id"].isin(self.sample)])
            for col in ("fscr", "stability"):
                if not np.allclose(g[col].to_numpy(dtype=float), stab[col].to_numpy(dtype=float), rtol=RTOL, atol=1e-12, equal_nan=True):
                    errs.append(f"{col} differs from the NumPy recomputation")
        if "ck_out" in result:
            errs += self._check_recovery(result, spark)
        return errs

    def _check_recovery(self, result: dict, spark) -> list[str]:
        errs = []
        todo = [e for e in range(CK_EPOCHS) if e not in result["first"]]
        if result["first"] != list(range(CK_FIRST_RUN_EPOCHS)) or result["already"] != result["first"]:
            errs.append(f"checkpoint: first run committed {result['first']}, resume saw {result['already']}")
        if result["second"] != todo:
            errs.append(f"checkpoint: resume folded epochs {result['second']}, expected only the uncommitted {todo}")
        ck = checkpoint_windows(spark, result["ck_out"])
        if result["n_windows"] != len(ck):
            errs.append("checkpoint: runner-style window count disagrees with the committed weights")
        errs += self._sampled(ck, self.fsds, self.n_windows, "checkpoint")
        st = spark.read.parquet(result["stream_out"]).toPandas()
        errs += self._sampled(st, self.ofs[self.ofs["win_rows"] == BATCH], self.n_full_windows, "stream")
        if int(st["n_late"].sum()) != 0:
            errs.append("stream: in-order input produced late rows")
        return errs

    def _check_curation(self, result: dict) -> list[str]:
        """Invariants of the chain's output."""
        c = result["chunks"]
        kept = self.docs.loc[c["doc_id"].unique(), "text"]
        errs = []
        if int(c["n_tokens"].sum()) != int(kept.map(lambda s: len(" ".join(s.lower().split()).split(" "))).sum()):
            errs.append("chunks do not partition the token stream of the kept documents")
        per_doc = c.groupby("doc_id")["chunk_id"].agg(["count", "max"])
        if not (per_doc["count"] == per_doc["max"] + 1).all():
            errs.append("chunk ids are not contiguous per document")
        if not set(c["split"]) <= {"train", "val", "test"}:
            errs.append("unknown split label")
        if kept.duplicated().any():
            errs.append("exact duplicates survived near_dedup")
        if (kept.index % 97 == self.inp["eval_slice"]).any():
            errs.append("eval-set documents survived decontaminate")
        return errs


# ---------------------------------------------------------------- per-layer numbers


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def ledger_records(out_dir: str) -> list[dict]:
    recs = []
    for p in sorted(glob.glob(os.path.join(out_dir, "_ledger", "*.json"))):
        with open(p) as f:
            recs.append(json.loads(f.read()))
    return recs


def streaming_numbers(progress: list[dict], windows: pd.DataFrame) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    secs = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches] or [0.0]
    last_state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    return {
        "streaming.batches": len(batches),
        "streaming.batch_s_p50": statistics.median(secs),
        "streaming.batch_s_max": max(secs),
        "streaming.state_bytes": last_state.get("memoryUsedBytes", 0),
        "streaming.state_rows": last_state.get("numRowsTotal", 0),
        "streaming.late_rows": int(windows["n_late"].sum()) if len(windows) else 0,
    }
