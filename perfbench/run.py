#!/usr/bin/env python3
"""KELOS benchmark: KELOS workloads on ``local[nproc]``, every window's
top-N checked bit-exactly against the ``core.run_stream`` oracle.

    python3 perfbench/run.py --workload gmm_batch --seed 1 --seconds 18 --trace 0

Run from the repository root.  Prints a human-readable report, then, as
the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced run.
``attempted``/``failed`` count the windows checked against the oracle.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from tracing import RssSampler, Tracer, median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by a traced run for its child: local[1], one timed job or round
    ap.add_argument("--baseline", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _require_repo() -> None:
    """Fail fast (no result line) when the package is not beside us."""
    if not os.path.isfile(os.path.join(ROOT, "kelos_on_kafka_spark", "core.py")):
        print(
            f"perfbench: no kelos_on_kafka_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        sys.exit(2)


def _prepare_env() -> None:
    """Keep Spark, its JVM and its Python workers inside the work dir."""
    for sub in ("tmp", "spark-local", "cache", "runs", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher included: temp files in the
    # work dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- end-to-end run -----------------------------------------------------------


def run_batch(spark, shape, inputs, run_dir, seconds, min_jobs, warmups, tracer, sj):
    """Set up (stage a fresh copy of the input, ``warmups`` warm-up jobs),
    then run timed jobs for ``seconds``, at least ``min_jobs`` of them."""
    with tracer.span("setup"):
        t0 = time.perf_counter()
        inp = inputs.stage(f"{run_dir}/in")
        outs = [f"{run_dir}/out_warm{i}" for i in range(warmups)]
        for warm in outs:
            sj.batch_job(spark, shape, inp, warm)
        setup_s = time.perf_counter() - t0
    jobs = []
    t_start = time.perf_counter()
    while len(jobs) < min_jobs or time.perf_counter() - t_start < seconds:
        out = f"{run_dir}/out{len(jobs)}"
        with tracer.span("job", rep=len(jobs)):
            jobs.append(sj.batch_job(spark, shape, inp, out))
        outs.append(out)
    return {"setup_s": setup_s, "jobs": jobs, "outs": outs}


def run_stream(spark, shape, inputs, run_dir, seconds, tracer, sj):
    """Stream rounds, each with a fresh source copy, checkpoint and sink:
    at least one, more while less than ``seconds`` have passed since the
    first began.  A round's set-up ends with its first trigger; only the
    first round's set-up is cold."""
    res = {"setup_s": None, "close_ms": [], "trigger_ms": [], "rates": [], "rounds": []}
    t_start = time.perf_counter()
    while not res["rounds"] or time.perf_counter() - t_start < seconds:
        r = len(res["rounds"])
        with tracer.span("round", round=r):
            t0 = time.perf_counter()
            src = inputs.stage(f"{run_dir}/src{r}")
            stage_s = time.perf_counter() - t0
            rnd = sj.stream_round(spark, shape, src, f"{run_dir}/stream{r}", "parquet")
        stats = sj.stream_stats(rnd)
        if res["setup_s"] is None:
            res["setup_s"] = stage_s + rnd["setup_s"]
        for key in ("close_ms", "trigger_ms", "rates"):
            res[key] += stats[key]
        res["rounds"].append(rnd)
    return res


def e2e_metrics(shape, session_s, res, windows_per_job):
    if shape.kind == "batch":
        # every window of a batch job closes when the job's rows are written
        close = [j * 1000 for j, w in zip(res["jobs"], windows_per_job) for _ in range(w)]
        rps = shape.records / median(res["jobs"])
        samples = f"{len(res['jobs'])} jobs ({' '.join(f'{j:.2f}' for j in res['jobs'])} s)"
    else:
        close = res["close_ms"]
        rps = median(res["rates"])
        samples = (f"{len(res['trigger_ms'])} steady triggers in {len(res['rounds'])} rounds "
                   f"({' '.join(f'{t:.0f}' for t in res['trigger_ms'])} ms)")
    metrics = {
        # session start plus the run's first (cold) set-up; a later stream
        # round reuses the warm JVM and Python workers
        "setup_s": session_s + res["setup_s"],
        "records_per_s": rps,
        "window_close_ms_p50": median(close),
    }
    info = {
        "throughput_samples": samples,
        "close_samples": len(close),
        "close_tail": tail(close),
    }
    return metrics, info


# --- orchestration ------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    _require_repo()
    _prepare_env()
    try:
        import workloads as wl
    except ImportError as exc:
        print(f"perfbench: cannot import the package or its deps: {exc}", file=sys.stderr)
        return 3
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    shape = wl.WORKLOADS[args.workload]
    cores = 1 if args.baseline else nproc()
    tracer = Tracer(enabled=bool(args.trace))
    run_dir = os.path.join(WORK, "runs", f"{shape.name}-s{args.seed}-{tracer.run_id}")
    host = {"nproc": nproc(), "cores": cores, "load1_start": os.getloadavg()[0]}

    inputs = wl.Inputs(shape, args.seed, os.path.join(WORK, "cache"))
    phases = {"start": time.perf_counter()}
    with tracer.span("sources.generate"):
        inputs.ensure()
    phases["generate"] = time.perf_counter()

    import spark_jobs as sj

    checks = []  # (rows, last watermark ms or None for batch output)
    layer = {}
    try:
        with RssSampler() as rss:
            with tracer.span("plans.session.get_spark"):
                t0 = time.perf_counter()
                spark = sj.session(shape, cores, WORK)
                session_s = time.perf_counter() - t0
            try:
                if args.trace:
                    layer, res = traced_run(spark, shape, inputs, run_dir, args, tracer, sj)
                else:
                    res = measure(spark, shape, inputs, run_dir, args, tracer, sj)
                phases["measure"] = time.perf_counter()
                ids = sj.page_ids(spark, inputs.input_dir) if shape.source == "pages" else None
            finally:
                sj.stop(spark)
            phases["stop"] = time.perf_counter()
        for out in res.get("outs", []):
            checks.append((wl.read_outliers(out), None))
        for rnd in res.get("rounds", []):
            if rnd["rows"] is not None:
                checks.append((rnd["rows"], rnd["wm_ms"]))
        with tracer.span("oracle.run_stream"):
            expected = inputs.oracle(ids)
        phases["oracle"] = time.perf_counter()
    except Exception:  # an errored run counts as all windows failed
        import traceback

        traceback.print_exc()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    attempted = failed = 0
    windows_per_job = []
    for rows, wm_ms in checks:
        got = wl.engine_windows(rows)
        n, bad, first_bad = wl.check_windows(expected, got, shape.pane_ms, wm_ms)
        attempted += n
        failed += bad
        windows_per_job.append(n)
        if bad:
            print(f"oracle mismatch: {bad} of {n} windows, e.g. {first_bad}", file=sys.stderr)
    host["load1_end"] = os.getloadavg()[0]
    phases["check"] = time.perf_counter()
    marks = list(phases.items())
    print("perfbench phases (s): " + ", ".join(
        f"{name} {t - prev:.1f}" for (name, t), (_, prev) in zip(marks[1:], marks[:-1])
    ) + f"; session {session_s:.1f}", file=sys.stderr)

    if args.trace:
        layer["session.s"] = session_s
        metrics, extra = finish_trace(shape, layer, inputs, ids, args, rss, tracer, host)
        tracer.write(
            os.path.join(WORK, "trace", f"{shape.name}-s{args.seed}-{tracer.run_id}.json"),
            {"workload": shape.name, "seed": args.seed, "host": host, "metrics": metrics,
             **extra},
        )
    else:
        # warm-up outputs are checked too, but only timed jobs are samples
        timed_windows = windows_per_job[-len(res["jobs"]):] if "jobs" in res else []
        metrics, info = e2e_metrics(shape, session_s, res, timed_windows)
        report_e2e(shape, args, metrics, info, host, session_s, attempted, failed)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def measure(spark, shape, inputs, run_dir, args, tracer, sj):
    if shape.kind == "batch":
        # a median needs at least three timed jobs; the baseline takes one.
        # Job times keep falling for a few jobs after the cold first one
        # (JIT), so a measured run warms up with two.
        min_jobs, warmups = (1, 1) if args.baseline else (3, 2)
        return run_batch(spark, shape, inputs, run_dir, args.seconds, min_jobs, warmups,
                         tracer, sj)
    return run_stream(spark, shape, inputs, run_dir, args.seconds, tracer, sj)


# --- traced run -------------------------------------------------------------------


def traced_run(spark, shape, inputs, run_dir, args, tracer, sj):
    """Per-layer figures: for batch, the nested prefix pipelines; for the
    stream, a sink round and its noop-sink twin, then the scan and
    feature prefixes over the same files."""
    layer = {}
    inp = inputs.stage(f"{run_dir}/in")
    if shape.kind == "batch":
        sj.batch_job(spark, shape, inp, f"{run_dir}/warm")  # warm-up
        prefixes = sj.time_prefixes(spark, shape, inp, f"{run_dir}/out_traced", 2, tracer)
        layer.update(sj.layer_metrics(shape, prefixes, inputs.input_bytes()))
        # the last prefix is the full job into parquet
        layer["_records_per_s"] = shape.records / prefixes["operators.kelos_batch.sink"]["s"]
        layer["_prefixes"] = prefixes
        return layer, {"outs": [f"{run_dir}/out_traced"]}
    # stream: the sink round and its noop-sink twin; their spans wrap
    # whole queries, so there is no per-trigger tracing overhead to measure
    with tracer.span("streaming.sink", sink="parquet"):
        rnd = sj.stream_round(spark, shape, inp, f"{run_dir}/sink", "parquet")
    with tracer.span("streaming.engine", sink="noop"):
        twin = sj.stream_stats(sj.stream_round(spark, shape, inp, f"{run_dir}/noop", "noop"))
    full = sj.stream_stats(rnd)
    prefixes = sj.time_prefixes(spark, shape, inp, None, 2, tracer)
    layer.update(sj.layer_metrics(shape, prefixes, inputs.input_bytes()))
    steady = [p for p in rnd["progress"] if p["batchId"] >= 1]
    dur = lambda key: median([p["durationMs"].get(key, 0) for p in steady])  # noqa: E731
    ops = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    engine_ms = median(twin["trigger_ms"])
    layer.update({
        "stream.engine_ms": engine_ms,
        "stream.sink_ms": median(full["trigger_ms"]) - engine_ms,
        "stream.add_batch_ms": dur("addBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.commit_ms": dur("commitOffsets") + dur("walCommit"),
        "stream.source_ms": dur("latestOffset") + dur("getBatch"),
        "state.bytes": ops[-1]["customMetrics"].get(
            "stateOnCurrentVersionSizeBytes", ops[-1]["memoryUsedBytes"]) if ops else 0,
        "state.rows": ops[-1]["numRowsTotal"] if ops else 0,
        "state.commit_ms": median([o["commitTimeMs"] for o in ops]) if ops else 0.0,
        "_records_per_s": median(full["rates"]),
        "_prefixes": prefixes,
    })
    return layer, {"rounds": [rnd]}


def one_core_baseline(args) -> float:
    """records_per_s of the same workload on local[1], in a child process
    (one JVM per Spark master)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--baseline"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=170, check=True,
                          text=True)
    last = proc.stdout.strip().splitlines()[-1]
    return json.loads(last)["metrics"]["records_per_s"]["value"]


def finish_trace(shape, layer, inputs, ids, args, rss, tracer, host):
    from workloads import replay_core

    pts = inputs.points(ids)
    biggest = pts["shard"].value_counts().idxmax()
    layer.update(replay_core(pts[pts["shard"] == biggest], shape.cfg, tracer))
    layer["scaling.records_per_s_1core"] = layer["scaling.eff"] = 0.0
    if shape.kind == "batch":
        with tracer.span("scaling.one_core_child"):
            rps1 = one_core_baseline(args)
        layer["scaling.records_per_s_1core"] = rps1
        layer["scaling.eff"] = layer["_records_per_s"] / (host["nproc"] * rps1)
    layer["mem.peak_rss_mb"] = rss.peak / 2**20
    # spans wrap whole Spark actions and replay calls, so their cost is
    # the recording itself, against the traced run's wall time
    layer["trace.overhead_pct"] = 100.0 * tracer.overhead_ns / tracer.elapsed_ns()
    extra = {k: layer.pop(k) for k in [k for k in layer if k.startswith("_")]}
    report_trace(shape, args, layer, host)
    return {name: layer[name] for name in PER_LAYER}, extra


def report_trace(shape, args, layer, host):
    print(f"perfbench {shape.name} seed={args.seed} traced run: nproc={host['nproc']} "
          f"load1 {host['load1_start']:.2f} -> {host['load1_end']:.2f}")
    for name in PER_LAYER:
        print(f"  {name:30s} {layer[name]:>14.4f} {UNITS[name]:6s} {BETTER[name]}")
    if shape.kind == "batch":
        spark_layers = {k: layer[k] for k in ("scan.s", "features.s", "exchange.s",
                                              "kernel_stage.s", "batch_sink.s")}
        lead = max(spark_layers, key=spark_layers.get)
        print(f"  largest Spark-layer share: {lead} "
              f"({100 * spark_layers[lead] / sum(spark_layers.values()):.0f}% of traced job)")
        if shape.plan == "window_parallel":
            print(f"  prediction 'core-executing kernel stage leads' held: {lead == 'kernel_stage.s'}")
        else:
            scan_feat = layer["scan.s"] + layer["features.s"]
            others = max(layer["exchange.s"], layer["kernel_stage.s"], layer["batch_sink.s"])
            print(f"  prediction 'scan + features lead' held: {scan_feat > others}")


def report_e2e(shape, args, metrics, info, host, session_s, attempted, failed):
    val, pct, n = info["close_tail"]
    print(f"perfbench {shape.name} seed={args.seed}: local[{host['cores']}] "
          f"nproc={host['nproc']} load1 {host['load1_start']:.2f} -> {host['load1_end']:.2f}")
    for name, v in metrics.items():
        print(f"  {name:22s} {v:>12.4f} {UNITS[name]:5s} {BETTER[name]}")
    print(f"  {'failed_window_ratio':22s} {failed / max(attempted, 1):>12.4f} ratio lower "
          f"({failed} of {attempted} windows)")
    tail_txt = (f"{val:.1f} ms at p{pct:.1f}" if n > 10
                else f"not supported by {n} samples")
    print(f"  window_close_ms_tail   {tail_txt} (ms, lower)")
    print(f"  samples: setup 1 (session {session_s:.2f} s + first set-up "
          f"{metrics['setup_s'] - session_s:.2f} s), "
          f"throughput {info['throughput_samples']}, window close {info['close_samples']}")


UNITS = {
    "setup_s": "s", "records_per_s": "1/s", "window_close_ms_p50": "ms",
    "session.s": "s",
    "scan.s": "s", "scan.bytes": "bytes", "features.s": "s",
    "exchange.s": "s", "exchange.shuffle_bytes": "bytes", "exchange.spill_bytes": "bytes",
    "kernel_stage.s": "s", "kernel_stage.task_skew": "ratio",
    "stage_a.s": "s", "stage_b.s": "s", "explode.rows": "count", "batch_sink.s": "s",
    "core.cluster_pane.s": "s", "core.aggregate_window.s": "s", "core.carry.s": "s",
    "core.knn_clusters.s": "s", "core.cluster_kde.s": "s", "core.prune.s": "s",
    "core.point_stage.s": "s",
    "core.window_points": "count", "core.clusters": "count", "core.survivors": "count",
    "core.flagged": "count", "core.candidates": "count", "core.outliers": "count",
    "core.candidate_ratio": "ratio",
    "stream.engine_ms": "ms", "stream.sink_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.commit_ms": "ms", "stream.source_ms": "ms",
    "state.bytes": "bytes", "state.rows": "count", "state.commit_ms": "ms",
    "scaling.records_per_s_1core": "1/s", "scaling.eff": "ratio",
    "mem.peak_rss_mb": "MB", "trace.overhead_pct": "%",
}
BETTER = {k: "lower" for k in UNITS}
BETTER.update({k: "higher" for k in ("records_per_s", "scaling.records_per_s_1core",
                                     "scaling.eff")})
PER_LAYER = [k for k in UNITS if k not in ("setup_s", "records_per_s", "window_close_ms_p50")]


if __name__ == "__main__":
    sys.exit(main())
