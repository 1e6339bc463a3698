#!/usr/bin/env python3
"""Seeded, layered point-in-time feature benchmark at ``local[4]``.

    python3 perfbench/run.py --workload snapshot_features --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout (any working directory works; the package
is found next to this directory and shipped to the Python workers).

Load shape: closed loop, one client. One Python process runs one job at a
time; the next job starts when the previous job's sink has committed.
Set-up is seeded generation, reference computation, session start plus
parquet staging (repeated ``SETUP_REPS`` times; the median round counts)
and the workload's warm-up jobs; ``setup_s`` is their sum. Then jobs run
back to back for ``--seconds`` (at least the workload's ``min_jobs``, at
most its ``max_jobs``; a job starts only if the median job so far would
end in time); every job's output is checked against the reference.

``job_cpu_s`` is the median CPU time (user + system) per job of this
process tree: the driver, the Spark JVM and its Python workers. CPU time,
not wall time, is the bounded job metric because the box is a share of a
host whose load swings from minute to minute: with two busy processes
beside it, a job's wall time rose ~65% and its CPU time ~15%. Wall times
are printed with their quartiles and are the per-layer ``job.wall_s``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
jobs with spans, job descriptions and per-execution SQL metrics and prints
the per-layer metrics, plus the tracing overhead (traced minus untraced
job time, measured side by side in the same run). A traced run also runs
the checked jobs of each of the workload's ``companions`` and adds their
layers, so a layer whose workload cannot be timed steadily on its own is
still measured. A traced run makes ``TRACE_ITERATIONS`` iterations,
whatever ``--seconds`` says. The spans and SQL metrics are written to
``.bench_work/traces/`` at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when any output check
failed, 2 when the package to benchmark is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from harness import (JobTag, RssSampler, Tracer, start_session,  # noqa: E402
                     stop_session, tree_cpu_s)
from sqlmetrics import execution_metrics, layer_totals  # noqa: E402

SETUP_REPS = 3
TRACE_ITERATIONS = 1
PLAN_LAYERS = ("asof", "temporal", "feature_matrix", "dedup", "corpus",
               "similarity")
RUN_LAYERS = ("text_descriptors", "image_descriptors") + PLAN_LAYERS
WORKLOADS = {
    "snapshot_features": ("wl_snapshot", "SnapshotFeatures"),
    "event_pit_matrix": ("wl_events", "EventPitMatrix"),
    "feature_store_refresh": ("wl_refresh", "FeatureStoreRefresh"),
    "corpus_curation": ("wl_corpus", "CorpusCuration"),
}


def _quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _load_workload(name, seed):
    if not os.path.isdir(os.path.join(ROOT, "profet_spark")):
        print(f"perfbench: no profet_spark package next to {HERE}",
              file=sys.stderr)
        sys.exit(2)
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)(seed)


def _stage_companions(spark, companions, run_dir):
    """Generation, reference and staging of the companion workloads. A
    traced run reports no ``setup_s``, so none of this is timed."""
    for name, c in companions.items():
        c.generate()
        c.reference()
        c.stage(spark, os.path.join(run_dir, f"companion-{name}"))
        c.prepare_companion(spark)


def _setup(wl, run_dir):
    """Seeded generation and the reference outputs, then SETUP_REPS
    rounds of session start plus staging (the first round pays the cold
    JVM launch, later rounds restart the SparkContext), then the warm-up
    job, which pays the cold start of the query path. ``setup_s`` =
    generation + reference + the median round + warm-up. Returns the
    session, ``setup_s`` and the cold session start time."""
    t0 = time.perf_counter()
    wl.generate()
    t1 = time.perf_counter()
    wl.reference()
    t2 = time.perf_counter()
    rounds, spark, session_start = [], None, None
    for rep in range(SETUP_REPS):
        marks = [time.perf_counter()]
        if spark is not None:
            spark.stop()
        spark = start_session(ROOT, run_dir)
        marks.append(time.perf_counter())
        wl.stage(spark, os.path.join(run_dir, f"inputs{rep}"))
        marks.append(time.perf_counter())
        if session_start is None:
            session_start = marks[1] - marks[0]
        rounds.append(marks[-1] - marks[0])
        print(f"set-up round {rep}: session={marks[1] - marks[0]:.2f}s "
              f"stage={marks[2] - marks[1]:.2f}s", file=sys.stderr)
        if rep:
            shutil.rmtree(os.path.join(run_dir, f"inputs{rep - 1}"),
                          ignore_errors=True)
    t3 = time.perf_counter()
    with JobTag(spark, "perfbench|warm-up"):
        wl.warm_up(spark, Tracer(False))
    warm = time.perf_counter() - t3
    print(f"set-up: generate={t1 - t0:.2f}s reference={t2 - t1:.2f}s "
          f"warm-up={warm:.2f}s", file=sys.stderr)
    return spark, (t2 - t0) + statistics.median(rounds) + warm, session_start


def _one_job(spark, wl, tracer, tag):
    """Run one job under ``tag``; returns ((wall seconds, rows, failures,
    CPU seconds, of which JIT compiler), Spark job/stage/task counts).
    CPU seconds are this process tree's: driver, Spark JVM, Python
    workers."""
    wl.before_job(spark)
    spark.catalog.clearCache()  # operator persists must not leak across jobs
    cpu0, jit0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        with JobTag(spark, tag) as jt, tracer.span("job"):
            rows, bad = wl.run_job(spark, tracer)
    except Exception as exc:  # a failed job is counted, not fatal
        traceback.print_exc()
        rows, bad = 0, [f"raised {type(exc).__name__}"]
    dt = time.perf_counter() - t0
    cpu1, jit1 = tree_cpu_s(os.getpid())
    counts = jt.counts()
    if counts["spark.task_retries"]:
        bad = bad + [f"{counts['spark.task_retries']} task retries"]
    return (dt, rows, bad, cpu1 - cpu0, jit1 - jit0), counts


def _time_noop(spark, df, tag):
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    with JobTag(spark, tag):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _kernel_layers(inputs):
    """In-process kernel time on the batches the engine sees: captions in
    Arrow-sized batches through ``compute_features_batch``, images one by
    one through ``compute_image_stats``."""
    import pandas as pd

    from profet_spark.functions import image_descriptors as imgd
    from profet_spark.functions import text_descriptors as td

    out = {}
    caps = inputs.get("captions")
    if caps is not None and len(caps):
        caps = pd.Series(list(caps))
        t0 = time.perf_counter()
        for i in range(0, len(caps), 1024):
            td.compute_features_batch(caps.iloc[i:i + 1024]
                                      .reset_index(drop=True))
        dt = time.perf_counter() - t0
        out["text_descriptors.kernel_s"] = dt
        out["text_descriptors.kernel_rows_per_s"] = len(caps) / dt
    images = inputs.get("images")
    if images:
        t0 = time.perf_counter()
        for data, fmt in images:
            imgd.compute_image_stats(data, fmt)
        dt = time.perf_counter() - t0
        out["image_descriptors.kernel_s"] = dt
        out["image_descriptors.kernel_rows_per_s"] = len(images) / dt
    return out


def _traced_iteration(spark, wl, companions, tracer, i):
    tag = f"perfbench|{i}|traced"
    tracer.run_id = i
    # alternate which twin runs first, so warm-up drift cancels out
    for twin in ("plain", "traced") if i % 2 == 0 else ("traced", "plain"):
        if twin == "plain":
            plain, _ = _one_job(spark, wl, Tracer(False),
                                f"perfbench|{i}|plain")
        else:
            traced, counts = _one_job(spark, wl, tracer, tag)
    side, side_layers = [], {}
    for name, c in companions.items():
        for j in range(c.companion_jobs):
            side_tag = f"perfbench|{i}|{name}|{j}"
            side.append(_one_job(spark, c, tracer, side_tag)[0])
            if c.companion_layers:
                for k, v in layer_totals(
                        execution_metrics(spark, side_tag)).items():
                    if k.startswith(c.companion_layers):
                        side_layers.setdefault(k, []).append(v)
    triples = execution_metrics(spark, tag)
    layers = layer_totals(triples)
    layers.update(counts)
    layers.update({k: statistics.median(v) for k, v in side_layers.items()})
    layers["job.wall_s"], layers["jvm.jit_cpu_s"] = plain[0], plain[4]
    for layer in PLAN_LAYERS:
        layers[f"{layer}.plan_s"] = tracer.total(f"{layer}.plan", i)
    for layer in RUN_LAYERS:
        layers[f"{layer}.run_s"] = 0.0
    chains = [ch for w in (wl, *companions.values())
              for ch in w.prefix_chains(spark)]
    for c, chain in enumerate(chains):
        prev = 0.0
        for layer, df in chain:
            with tracer.span(f"probe.{layer}"):
                t = _time_noop(spark, df, f"perfbench|{i}|probe{c}|{layer}")
            if layer in RUN_LAYERS:
                layers[f"{layer}.run_s"] += t - prev
            prev = t
    with tracer.span("extras"):
        for w in (wl, *companions.values()):
            layers.update(w.trace_extras(spark, tracer))
    return plain, traced, side, layers, {tag: triples}


def measure(args, run_dir):
    wl = _load_workload(args.workload, args.seed)
    spark, setup_s, session_start = _setup(wl, run_dir)
    companions = ({n: _load_workload(n, args.seed) for n in wl.companions}
                  if args.trace else {})
    tracer = Tracer(args.trace == 1)
    jobs, side, layer_rows, executions, plain, traced = [], [], [], {}, [], []
    try:
        _stage_companions(spark, companions, run_dir)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        deadline = time.perf_counter() + args.seconds
        with RssSampler(jvm_pid) as rss:
            for i in range(TRACE_ITERATIONS if args.trace else 0):
                p, t, s, layers, ex = _traced_iteration(
                    spark, wl, companions, tracer, i)
                plain.append(p[0])
                traced.append(t[0])
                side += s
                layer_rows.append(layers)
                executions.update(ex)
                jobs += [p, t]
            i, cap = 0, wl.max_jobs or float("inf")
            # start another job only if it is expected to end in time, so
            # a run's wall time does not overshoot by a whole job
            while not args.trace and i < cap and (
                    i < wl.min_jobs or time.perf_counter()
                    + statistics.median(j[0] for j in jobs) < deadline):
                job, _ = _one_job(spark, wl, tracer, f"perfbench|{i}")
                jobs.append(job)
                print(f"job {i}: {job[0]:.3f}s cpu={job[3]:.2f}s "
                      f"jit={job[4]:.2f}s rows={job[1]}", file=sys.stderr)
                i += 1
        final_bad = wl.finish(spark) + [
            f"{name}: {b}" for name, c in companions.items()
            for b in c.finish(spark)]
        kernels = _kernel_layers(wl.kernel_inputs()) if args.trace else {}
    finally:
        stop_session(spark)

    # companion jobs are checked and counted, but not timed into job_s
    failed = sum(1 for j in jobs + side if j[2] or final_bad)
    for n, (_, _, bad, *_) in enumerate(jobs + side):
        if bad:
            print(f"job {n} failed: {bad}", file=sys.stderr)
    if final_bad:
        print(f"end-of-run check failed: {final_bad}", file=sys.stderr)
    times = [j[0] for j in jobs]
    summary = {
        "setup_s": ([setup_s], "s"),
        # the JVM compiles Spark's code for tens of jobs, so CPU per job
        # falls with the job's index; the first min_jobs keep every run
        # at the same point of that curve, whatever the box load
        "job_cpu_s": ([j[3] for j in jobs[:wl.min_jobs]], "s"),
        "job_s": (times, "s"),
        # mean output rows per job over the median job time, so a slow
        # job moves it no more than it moves job_s
        "rows_per_s": ([statistics.mean(j[1] for j in jobs)
                        / statistics.median(times)], "rows/s"),
    }
    peak_rss_mb = rss.peak_bytes / 2 ** 20
    if args.trace:
        metrics = _per_layer(layer_rows, kernels, plain, traced,
                             session_start, peak_rss_mb)
        _write_trace(args, tracer, executions, layer_rows)
    else:
        metrics = {k: {"value": statistics.median(v), "unit": u}
                   for k, (v, u) in summary.items()
                   if k in _benchmark_units("end_to_end")}
    print(f"{args.workload} seed={args.seed} peak_rss_mb: {peak_rss_mb:.1f} "
          "MiB (Spark JVM + Python workers)")
    for k, (v, u) in summary.items():
        q1, q2, q3 = _quartiles(v)
        print(f"{args.workload} seed={args.seed} {k}: median={q2:.4f} {u} "
              f"q1={q1:.4f} q3={q3:.4f} n={len(v)}")
    print(f"{args.workload} inputs: {json.dumps(wl.properties)}")
    return {"correct": failed == 0, "attempted": len(jobs) + len(side),
            "failed": failed,
            "metrics": metrics}


def _benchmark_units(kind):
    """{metric name: unit} of BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _per_layer(layer_rows, kernels, plain, traced, session_start,
               peak_rss_mb):
    """Every per-layer metric BENCHMARK.json names: the median over the
    traced iterations, 0 for a layer the workload never calls."""
    units = _benchmark_units("per_layer")
    merged = {}
    for name in units:
        vals = [r[name] for r in layer_rows if name in r]
        merged[name] = statistics.median(vals) if vals else 0.0
    merged.update(kernels)
    merged["session.start_s"] = session_start
    merged["memory.peak_rss_mb"] = peak_rss_mb
    merged["trace.overhead_s"] = (statistics.median(traced)
                                  - statistics.median(plain))
    merged["python.boundary_s"] = max(
        0.0, merged["python.run_s"]
        - merged["text_descriptors.kernel_s"]
        - merged["image_descriptors.kernel_s"])
    return {k: {"value": float(v), "unit": units[k]} for k, v in merged.items()}


def _write_trace(args, tracer, executions, layer_rows):
    out_dir = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.spans, "layers": layer_rows,
                   "executions": executions}, f)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run_dir = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
