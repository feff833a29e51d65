"""Layer benchmark for pystreamfs_spark: end-to-end metrics per workload,
and a traced mode that splits a run into the package's layers.

    python3 layerbench/run.py --workload fs_pipeline --seed 1 --seconds 8 --trace 0

Run it from the repository root. It starts one SparkSession on
``local[<nproc / 2>]`` with ``nproc`` shuffle partitions, warms it up with
one run on a tiny input (``setup_s`` is the session start plus that run),
generates the workload's input from ``--seed``, makes the untimed runs of
``workloads.PRIME_RUNS`` on it, then repeats the workload for ``--seconds``
and at least ``workloads.MIN_REPS`` times, and reports medians.
Every repetition's output is checked against a reference computed through
an independent path of the package and, for the default seed, against the
digests pinned in ``expected.json``. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it give context that is not gated (core count, input size, generation
time, a single-threaded NumPy OFS probe, the share of CPU time the
hypervisor gave to other guests while timing).

``--trace 1`` reports the per-layer metrics of ``layers.json`` instead: the
same untimed runs on the measured input, one untraced repetition, then one
traced repetition with a span around every layer call, materialization
forced at layer boundaries, job-group labels and Spark's event log. The span
sum is printed next to the untraced wall time, so the tracing overhead is
visible.

Everything the run writes goes under ``.layerbench/`` in the current
directory; only the span dumps of traced runs (``.layerbench/traces``) stay.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]  # the benchmark's modules, and the package of the checkout

import pystreamfs_spark  # noqa: E402

if not os.path.abspath(pystreamfs_spark.__file__).startswith(ROOT + os.sep):
    sys.exit(f"pystreamfs_spark must be imported from {ROOT}, not {pystreamfs_spark.__file__}")

import proctree  # noqa: E402
import workloads as wl  # noqa: E402
from spans import GroupStats, Tracer, partition_skew, read_event_log  # noqa: E402

DEFAULT_SEED = 1
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def ofs_probe(rows: int = 20_000, m: int = 16, num_features: int = 5) -> float:
    """Single-threaded, Spark-free OFS (the reference per-row update rule) on
    fixed random data: rows per second on this machine right now."""
    import numpy as np

    rng = np.random.default_rng(0)
    X = rng.standard_normal((rows, m))
    y = rng.integers(0, 2, rows) * 2.0 - 1.0
    w = np.zeros(m)
    t0 = time.perf_counter()
    for x, yi in zip(X, y):
        if yi * (w @ x) <= 1:
            w = w + 0.2 * yi * x
            w = w * min(1.0, 1.0 / (math.sqrt(0.01) * np.linalg.norm(w)))
            if np.count_nonzero(w) > num_features:
                w[np.argsort(np.abs(w))[:-num_features]] = 0.0
    return rows / (time.perf_counter() - t0)


def start_spark(work: str, trace: bool):
    from pystreamfs_spark import get_spark

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    # half the cores run tasks; the rest are left to what runs beside them
    # (the JVM's JIT compiler and GC threads, this Python process, the Python
    # workers' Arrow transfer), so a run measures the program and not the
    # scheduler of an oversubscribed VM
    slots = max(1, cpus // 2)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    # one shuffle partition per core (the package default of 32 assumes a
    # 32-core box): the heavy-tailed conversations' skew stays visible, and two
    # partitions per task slot let the scheduler even out the fold's load
    spark = get_spark(app_name="layerbench", master=f"local[{slots}]", shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus, slots


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every child."""
    from pyspark import SparkContext

    pids = [p for p in proctree.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    proctree.wait_gone(pids)


def make_inputs(spark, workload: str, d: str, size: int, seed: int, recovery: bool) -> dict:
    """Generate the workload's input under ``d``; returns its paths.
    ``recovery`` adds the stream files the traced run's recovery paths read."""
    os.makedirs(d)
    if workload == "curation_chain":
        inp = {"documents": os.path.join(d, "documents.parquet"), "rows": size, "eval_slice": seed % 97}
        wl.write_documents(inp["documents"], size, seed)
        return inp
    inp = {"transcripts": os.path.join(d, "transcripts.parquet")}
    inp["lengths"] = wl.write_transcripts(spark, inp["transcripts"], size, seed)
    inp["rows"] = sum(inp["lengths"].values())
    if recovery:
        inp["ck_out"] = os.path.join(d, "ck_out")
        inp["stream_in"] = os.path.join(d, "stream_in")
        wl.write_stream_files(spark, inp["transcripts"], inp["stream_in"])
        inp["stream_schema"] = spark.read.parquet(inp["stream_in"]).schema
        inp["stream_out"] = os.path.join(d, "stream_out")
        inp["stream_ck"] = os.path.join(d, "stream_ck")
    return inp


def one_rep(spark, workload: str, inp: dict, ref) -> tuple[dict, dict, list[str]]:
    """Run once untraced; returns (measurements, result, check errors)."""
    me = os.getpid()
    proctree.reset_peak_rss(me)
    cpu0 = proctree.cpu_seconds(me)
    t0 = time.perf_counter()
    result = wl.WORKLOADS[workload](spark, inp, wl.Trace())
    wall = time.perf_counter() - t0
    meas = {"wall_s": wall, "cpu_s": proctree.cpu_seconds(me) - cpu0, "peak_rss_mb": proctree.peak_rss_mb(me)}
    return meas, result, ref.check(result, spark)


def output_numbers(workload: str, spark, result: dict, t) -> dict:
    """Per-layer numbers read from the program's outputs (needs the session)."""
    raw = dict(t.counts)
    if workload == "fs_pipeline":
        raw["windows"] = len(result["windows"])
        raw["kernel_s"] = float(result["windows"]["elapsed_sec"].sum())
    if "ck_out" in result:
        recs = wl.ledger_records(result["ck_out"])
        # every ledger record of one run() repeats that run's shared fold time
        raw["checkpoint.fold_s"] = sum({r["epoch"] in result["second"]: r["fold_sec_shared"] for r in recs}.values())
        raw["checkpoint.write_s"] = sum(r["elapsed_sec"] for r in recs)
        raw["checkpoint.bytes_written"] = wl.du_bytes(result["ck_out"])
        raw["checkpoint.resume_epochs"] = len(result["second"])
        ck = wl.checkpoint_windows(spark, result["ck_out"])
        raw["checkpoint.resume_rows_refolded"] = int(ck.loc[ck["epoch"].isin(result["second"]), "win_rows"].sum())
        raw.update(wl.streaming_numbers(result["progress"], spark.read.parquet(result["stream_out"]).toPandas()))
    if workload == "curation_chain":
        raw["chunk.chunks"] = len(result["chunks"])
    return raw


def per_layer_metrics(workload, raw, groups, tracer, slots, setup, untraced_wall) -> dict:
    """Every metric declared in layers.json; 0 where the workload skips the layer."""
    with open(os.path.join(HERE, "layers.json")) as f:
        declared = json.load(f)["per_layer"]
    m = {d["name"]: 0.0 for d in declared}
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    m["session.start_s"], m["session.warmup_s"] = setup
    for name in m:
        if name.endswith(".jobs"):
            m[name] = g(name[: -len(".jobs")]).jobs
        elif name.startswith(("checkpoint.", "streaming.")) or name in ("dedup.candidate_pairs", "graph.edges", "chunk.chunks"):
            m[name] = raw.get(name, 0)
    m["sources.scan_s"] = tracer.seconds("sources")
    m["sources.rows"] = raw.get("sources", 0)
    m["sources.bytes_read"] = g("sources").bytes_read
    m["features.featurize_s"] = tracer.seconds("features")
    m["features.rows"] = raw.get("features", 0)
    m["stability.wall_s"] = tracer.seconds("stability")
    m["stability.fold_executions"] = len(g("stability.e2e").python_stages)
    m["quality.wall_s"] = tracer.seconds("quality.gate") + tracer.seconds("quality.decontaminate")
    for layer in ("sampling", "chunk"):
        m[f"{layer}.wall_s"] = tracer.seconds(layer)
    if workload == "curation_chain":
        # near_dedup's first SQL execution materializes the candidate pairs
        # (connected_components' eager localCheckpoint of the edge list); the
        # rest of its span is the components and the keeper choice
        m["dedup.wall_s"], m["dedup.jobs"] = g("dedup").first_execution()
        m["graph.wall_s"] = tracer.seconds("near_dedup") - m["dedup.wall_s"]
        m["graph.jobs"] = g("dedup").jobs - m["dedup.jobs"]

    if workload == "fs_pipeline":
        fg = g("fold")
        m["fold.wall_s"] = tracer.seconds("fold")
        m["fold.windows"] = raw["windows"]
        m["fold.exchanges"] = len(fg.python_exchange_stages)
        m["fold.exchange_bytes"] = fg.python_exchange_bytes
        if fg.python_task_records:
            m["fold.partition_skew"] = partition_skew(max(fg.python_task_records.values(), key=len))
        m["kernels.kernel_s"] = raw["kernel_s"]
        if m["fold.wall_s"] > 0:
            m["kernels.kernel_share"] = raw["kernel_s"] / slots / m["fold.wall_s"]
            m["fold.io_s"] = m["fold.wall_s"] - raw["kernel_s"] / slots

    traced = [v for k, v in groups.items() if k != "bench"]
    m["spark.tasks"] = sum(x.tasks for x in traced)
    m["spark.task_failures"] = sum(x.task_failures for x in traced)
    m["spark.executor_run_s"] = sum(x.run_s for x in traced)
    m["spark.executor_cpu_s"] = sum(x.cpu_s for x in traced)
    m["spark.gc_s"] = sum(x.gc_s for x in traced)
    m["spark.shuffle_write_bytes"] = sum(x.shuffle_write_bytes for x in traced)
    m["spark.shuffle_fetch_wait_s"] = sum(x.fetch_wait_s for x in traced)
    m["trace.span_sum_s"] = tracer.top_level_sum(workload)
    m["trace.untraced_wall_s"] = untraced_wall
    units = {d["name"]: d["unit"] for d in declared}
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def traced_run(spark, args, work, inp, ref, slots, setup, untraced_wall) -> tuple[dict, list[str]]:
    """One traced repetition; stops the session to complete the event log."""
    tracer = Tracer(spark.sparkContext, args.workload)
    t = wl.Trace(tracer)
    result = wl.WORKLOADS[args.workload](spark, inp, t)
    if args.workload == "fs_pipeline":
        tracer.run_id = "recovery"  # not part of the untraced wall time
        result.update(wl.run_recovery_paths(spark, inp, result["features"], t))
        # how often the fold's Python stage runs when stability reads an
        # unmaterialized fold, the shape a user's pipeline has
        spark.sparkContext.setJobGroup("stability.e2e", "stability.e2e")
        wl.run_fs_pipeline(spark, inp, wl.Trace())
        spark.sparkContext.setJobGroup("bench", "bench")
    errs = ref.check(result, spark) + pinned_errors(args, result, spark)
    raw = output_numbers(args.workload, spark, result, t)
    t.release()
    run_ids = {result["run_id"]: "streaming"} if "run_id" in result else {}
    stop_spark(spark)
    (log,) = [os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))]
    groups = read_event_log(log, run_ids)
    metrics = per_layer_metrics(args.workload, raw, groups, tracer, slots, setup, untraced_wall)
    if args.workload == "fs_pipeline":
        # a reader that no longer finds the fold's Python stage reads 0 here
        if not groups.get("fold", GroupStats()).python_stages:
            errs.append("event log: no Python stage found in the fold's jobs")
        if metrics["stability.fold_executions"]["value"] != 1:
            errs.append(f"stability ran the fold {metrics['stability.fold_executions']['value']:g} times, expected 1")
    if args.workload == "curation_chain" and not groups.get("dedup", GroupStats()).executions:
        errs.append("event log: no SQL execution found in near_dedup's jobs")
    traces = os.path.join(ROOT, ".layerbench", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    for name, v in metrics.items():
        print(f"layer: {name} = {v['value']:.6g} {v['unit']}")
    span_sum = metrics["trace.span_sum_s"]["value"]
    overhead = (span_sum / untraced_wall - 1) * 100 if untraced_wall else float("nan")
    print(f"trace overhead: span sum {span_sum:.3f} s vs untraced wall_s {untraced_wall:.3f} s ({overhead:+.1f}%)")
    return metrics, errs


def pinned_errors(args, result: dict, spark) -> list[str]:
    """For the default seed at full size, compare the output digest with
    expected.json. On a mismatch the digest this run got is printed, so a
    deliberate change of the output can be pinned by a reviewed edit."""
    if args.size != "full" or args.seed != DEFAULT_SEED:
        return []
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    errs = []
    got = wl.digest(args.workload, result, spark)
    for key, value in got.items():
        if key not in expected:
            errs.append(f"{key}: no digest pinned for the default seed")
        else:
            errs += [f"{key}: {e}" for e in wl.compare_digest(value, expected[key])]
    if errs:
        print(f"pinned digest mismatch: {errs}", file=sys.stderr)
        print(f"digest of this run: {json.dumps(got, sort_keys=True)}", file=sys.stderr)
    return errs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: the self-test input size")
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".layerbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # everything the JVM, Spark and Python temp files write stays in the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    tempfile.tempdir = work

    probe = ofs_probe()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cpus, slots = start_spark(work, bool(args.trace))
        start_s = time.perf_counter() - t0

        # warm-up: the session's first run of the workload, on the tiny input,
        # so that it pays the Python workers, imports, codegen and first JIT
        # and does not grow with the measured input
        t0 = time.perf_counter()
        tiny = make_inputs(spark, args.workload, os.path.join(work, "warmup"), wl.SIZES[args.workload]["tiny"], args.seed, False)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.WORKLOADS[args.workload](spark, tiny, wl.Trace())
        warmup_s = time.perf_counter() - t0

        recovery = bool(args.trace) and args.workload == "fs_pipeline"
        t0 = time.perf_counter()
        inp = make_inputs(spark, args.workload, os.path.join(work, "input"), wl.SIZES[args.workload][args.size], args.seed, recovery)
        gen_s += time.perf_counter() - t0

        t0 = time.perf_counter()
        ref = wl.Reference(args.workload, spark, inp, recovery)
        ref_s = time.perf_counter() - t0

        # untimed full-size runs, context only; traced, the untraced and the
        # traced repetition compared below both follow them (and the recovery
        # paths' first calls)
        t0 = time.perf_counter()
        for i in range(wl.PRIME_RUNS[args.workload]):
            out = wl.WORKLOADS[args.workload](spark, inp, wl.Trace())
            if recovery and i == 0:
                wl.run_recovery_paths(spark, inp, out["features"], wl.Trace())
        prime_s = time.perf_counter() - t0

        samples, results, failed, last_wall = [], [], 0, 0.0
        steal0, t_start = proctree.steal_seconds(), time.perf_counter()
        t_end = t_start + (0 if args.trace else args.seconds)
        while True:
            try:
                meas, result, errs = one_rep(spark, args.workload, inp, ref)
                last_wall = meas["wall_s"]
            except Exception:
                traceback.print_exc()
                meas, result, errs = None, None, ["raised"]
            if errs:
                failed += 1
                print(f"check failed: {errs}", file=sys.stderr)
            else:
                samples.append(meas)
                results.append(result)
            if time.perf_counter() >= t_end and (args.trace or failed + len(samples) >= wl.MIN_REPS[args.workload]):
                break
        # CPU time taken by other guests while timing, as a share of the
        # machine's CPU time: machine noise, not the program
        steal = (proctree.steal_seconds() - steal0) / (cpus * (time.perf_counter() - t_start))

        if results and pinned_errors(args, results[-1], spark):
            failed += len(samples)
            samples = []

        attempted = failed + len(samples)
        med = {k: statistics.median(s[k] for s in samples) for k in ("wall_s", "cpu_s", "peak_rss_mb")} if samples else {}
        print(
            f"context: nproc={cpus} task_slots={slots} seed={args.seed} workload={args.workload} input_rows={inp['rows']} "
            f"gen_s={gen_s:.3f} ref_s={ref_s:.3f} prime_s={prime_s:.3f} probe_ofs_rows_per_s={probe:.0f} cpu_steal_frac={steal:.3f} samples={len(samples)}"
        )
        if args.trace:
            metrics, errs = traced_run(spark, args, work, inp, ref, slots, (start_s, warmup_s), last_wall)
            spark = None
            attempted += 1
            if errs:
                failed += 1
                print(f"traced check failed: {errs}", file=sys.stderr)
        else:
            metrics = {}
            if samples:
                values = {
                    "setup_s": start_s + warmup_s,
                    "wall_s": med["wall_s"],
                    "rows_per_s": inp["rows"] / med["wall_s"],
                    "cpu_s": med["cpu_s"],
                    "peak_rss_mb": med["peak_rss_mb"],
                }
                metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
                reps = " ".join(f"{s['wall_s']:.3f}" for s in samples)
                print(
                    f"end_to_end: setup_s={values['setup_s']:.3f} s (start {start_s:.3f} + warm-up {warmup_s:.3f}); "
                    f"wall_s={values['wall_s']:.3f} s (median of {len(samples)}: {reps}); "
                    f"rows_per_s={values['rows_per_s']:.0f} rows/s; cpu_s={values['cpu_s']:.3f} s; "
                    f"peak_rss_mb={values['peak_rss_mb']:.1f} MB; failed_frac={failed / max(attempted, 1):.3f} ratio"
                )
        print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
