"""Everything that runs on Spark: the session, the three workload plans,
timed runs, read-back of outputs, and the per-layer prefix pipelines with
Spark's own stage and stream-progress metrics.

Each layer is timed from outside, through the package's public
functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import time
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from kelos_on_kafka_spark.functions.features import featurize_pages
from kelos_on_kafka_spark.operators.kelos_batch import (
    detect_outliers,
    detect_outliers_streamwise,
    prepare_points,
    run_stage_a,
)
from kelos_on_kafka_spark.plans.session import get_spark
from kelos_on_kafka_spark.streaming.engine import kelos_stream
from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

from tracing import median
from workloads import Shape, read_outliers

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
STREAM_TIMEOUT_S = 150


def session(shape: Shape, cores: int, work: str) -> SparkSession:
    spark = get_spark(
        app_name=f"perfbench-{shape.name}",
        master=f"local[{cores}]",
        shuffle_partitions=shape.shuffle_partitions,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark: SparkSession) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _page_id():
    return F.abs(F.xxhash64("url"))


def page_ids(spark: SparkSession, input_dir: str) -> pd.DataFrame:
    """url -> engine point id, as the workload plans compute it."""
    return (
        spark.read.parquet(input_dir)
        .select("url", _page_id().alias("id"))
        .toPandas()
    )


def points(spark: SparkSession, shape: Shape, input_dir: str) -> DataFrame:
    """The engine's input: (id, ts, features[, shard])."""
    src = spark.read.parquet(input_dir)
    if shape.source == "gmm":
        return src
    cols = [_page_id().alias("id"), F.col("warc_ts").alias("ts"), "features"]
    if shape.shards > 1:
        cols.append((_page_id() % shape.shards).alias("shard"))
    return featurize_pages(src).select(*cols)


def _shard_col(shape: Shape):
    return "shard" if shape.shards > 1 else None


def outliers(spark: SparkSession, shape: Shape, input_dir: str) -> DataFrame:
    pts = points(spark, shape, input_dir)
    if shape.plan == "streamwise":
        return detect_outliers_streamwise(pts, shape.cfg, shard_col=_shard_col(shape))
    return detect_outliers(pts, shape.cfg, shard_col=_shard_col(shape))


def batch_job(spark: SparkSession, shape: Shape, input_dir: str, out_dir: str) -> float:
    """One timed batch run: from building the plan until the outlier rows
    are written to parquet."""
    t0 = time.perf_counter()
    outliers(spark, shape, input_dir).write.mode("overwrite").parquet(out_dir)
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()  # the window-parallel plan persists stage A
    return dt


# --- streaming ----------------------------------------------------------------


def _wall(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_round(
    spark: SparkSession, shape: Shape, src_dir: str, base: str, sink: str
) -> dict:
    """One availableNow run of ``kelos_stream`` over the staged files, one
    file per trigger (closed loop), into ``write_outlier_stream`` or the
    noop sink.  Returns its progress records and, for the parquet sink,
    the written rows."""
    stream = (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    pts = featurize_pages(stream).select(
        _page_id().alias("id"), F.col("warc_ts").alias("ts"), "features"
    )
    out = kelos_stream(pts, shape.cfg, watermark_delay=shape.watermark_delay)
    ckpt = f"{base}/ckpt"
    started = time.time()
    if sink == "parquet":
        q = write_outlier_stream(
            out, f"{base}/sink", ckpt, trigger={"availableNow": True}
        )
    else:
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(f"stream round did not finish in {STREAM_TIMEOUT_S} s")
    finally:
        if q.isActive:
            q.stop()
    progress = sorted(q.recentProgress, key=lambda p: p["batchId"])
    first = progress[0]
    setup_s = (
        _wall(first["timestamp"]) - started
        + first["durationMs"]["triggerExecution"] / 1000
    )
    watermarks = [
        round(_wall(p["eventTime"]["watermark"]) * 1000)
        for p in progress
        if p.get("eventTime", {}).get("watermark")
    ]
    rows = read_outliers(f"{base}/sink") if sink == "parquet" else None
    return {
        "progress": progress,
        "setup_s": setup_s,
        "wm_ms": max(watermarks, default=0),
        "rows": rows,
    }


def stream_stats(rnd: dict) -> dict:
    """Per-round figures over the triggers after the first (the first
    plans the query and initialises state; it closes no window)."""
    steady = [p for p in rnd["progress"] if p["batchId"] >= 1]
    emitting = set()
    if rnd["rows"] is not None:
        emitting = set(int(b) for b in rnd["rows"]["batch_id"].unique())
    return {
        "close_ms": [
            float(p["durationMs"]["triggerExecution"])
            for p in steady
            if p["batchId"] in emitting
        ],
        "trigger_ms": [float(p["durationMs"]["triggerExecution"]) for p in steady],
        # input rows per second of each trigger that read a file (the
        # last, no-data trigger only fires the timeouts)
        "rates": [
            p["numInputRows"] * 1000 / p["durationMs"]["triggerExecution"]
            for p in steady
            if p["numInputRows"]
        ],
    }


# --- per-layer probes -----------------------------------------------------------


class StageProbe:
    """Spark's own stage metrics from the status store (works with the UI
    disabled)."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )

    def _stages(self):
        self.sc.listenerBus().waitUntilEmpty()
        seq = self.store.stageList(None, False, False, self.no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def since(self, mark: int) -> list[dict]:
        out = []
        for s in self._stages():
            if s.stageId() <= mark or s.status().toString() != "COMPLETE":
                continue
            tasks = self.store.taskList(s.stageId(), s.attemptId(), 100000)
            run_ms = [
                tasks.apply(i).taskMetrics().get().executorRunTime()
                for i in range(tasks.size())
                if tasks.apply(i).taskMetrics().isDefined()
            ]
            out.append(
                {
                    "stage_id": s.stageId(),
                    "tasks": s.numTasks(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_write_records": s.shuffleWriteRecords(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "task_run_ms": run_ms,
                }
            )
        return sorted(out, key=lambda d: d["stage_id"])


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _exchange(spark: SparkSession, shape: Shape, input_dir: str) -> DataFrame:
    """``prepare_points`` plus the shard repartition and sort that both
    batch plans put in front of their first pandas stage."""
    pts = prepare_points(
        points(spark, shape, input_dir), shape.cfg, shard_col=_shard_col(shape)
    )
    return pts.repartition(shape.shuffle_partitions, "shard").sortWithinPartitions(
        "shard", "pane_id", "point_id"
    )


def time_prefixes(
    spark: SparkSession,
    shape: Shape,
    input_dir: str,
    out_dir: str,
    rounds: int,
    tracer,
):
    """Nested prefix pipelines, each into the noop sink except the last,
    which is the full job into parquet.  Each round runs every prefix.
    Returns per-prefix median seconds with the stage metrics of each
    prefix's last run."""
    prefixes = [("sources.scan", lambda: _noop(spark.read.parquet(input_dir)))]
    if shape.source == "pages":
        prefixes.append(
            ("functions.features", lambda: _noop(points(spark, shape, input_dir)))
        )
    if shape.kind == "batch":
        prefixes.append(
            (
                "operators.kelos_batch.exchange",
                lambda: _noop(_exchange(spark, shape, input_dir)),
            )
        )
        if shape.plan == "window_parallel":
            prefixes.append(
                (
                    "operators.kelos_batch.stage_a",
                    lambda: _noop(
                        run_stage_a(
                            prepare_points(
                                points(spark, shape, input_dir),
                                shape.cfg,
                                shard_col=_shard_col(shape),
                            ),
                            shape.cfg,
                        )
                    ),
                )
            )
        prefixes.append(
            (
                "operators.kelos_batch.kernel_stage",
                lambda: _noop(outliers(spark, shape, input_dir)),
            )
        )
        prefixes.append(
            (
                "operators.kelos_batch.sink",
                lambda: outliers(spark, shape, input_dir)
                .write.mode("overwrite")
                .parquet(out_dir),
            )
        )
    probe = StageProbe(spark)
    secs = {name: [] for name, _ in prefixes}
    stages = {}
    for rnd in range(rounds):
        for name, action in prefixes:
            with tracer.span(name, round=rnd):
                mark = probe.mark()
                t0 = time.perf_counter()
                action()
                secs[name].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                stages[name] = probe.since(mark)
    return {
        name: {"s": median(v), "runs_s": v, "stages": stages[name]}
        for name, v in secs.items()
    }


def layer_metrics(shape: Shape, prefixes: dict, input_bytes: int) -> dict:
    """Layer times as increments between nested prefixes (so they sum to
    the traced full job), plus shuffle, spill and skew from the stages.
    ``scan.bytes`` is the scanned files' size on disk: the stage's
    inputBytes undercounts local parquet reads."""
    s = {k: v["s"] for k, v in prefixes.items()}
    scan = s["sources.scan"]
    feats = s.get("functions.features", scan)
    m = {
        "scan.s": scan,
        "scan.bytes": input_bytes,
        "features.s": feats - scan,
    }
    zero = {
        "exchange.s": 0.0,
        "exchange.shuffle_bytes": 0,
        "exchange.spill_bytes": 0,
        "kernel_stage.s": 0.0,
        "kernel_stage.task_skew": 0.0,
        "stage_a.s": 0.0,
        "stage_b.s": 0.0,
        "explode.rows": 0,
        "batch_sink.s": 0.0,
        "stream.engine_ms": 0.0,
        "stream.sink_ms": 0.0,
        "stream.add_batch_ms": 0.0,
        "stream.planning_ms": 0.0,
        "stream.commit_ms": 0.0,
        "stream.source_ms": 0.0,
        "state.bytes": 0,
        "state.rows": 0,
        "state.commit_ms": 0.0,
    }
    m.update(zero)
    if shape.kind != "batch":
        return m
    exch = s["operators.kelos_batch.exchange"]
    full = s["operators.kelos_batch.kernel_stage"]
    full_stages = prefixes["operators.kelos_batch.kernel_stage"]["stages"]
    last = full_stages[-1]["task_run_ms"] if full_stages else []
    m.update(
        {
            "exchange.s": exch - feats,
            "exchange.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in full_stages),
            "exchange.spill_bytes": sum(st["spill_bytes"] for st in full_stages),
            "kernel_stage.s": full - exch,
            "kernel_stage.task_skew": (
                max(last) / max(median(last), 1.0) if last else 0.0
            ),
            "batch_sink.s": s["operators.kelos_batch.sink"] - full,
        }
    )
    if shape.plan == "window_parallel":
        stage_a = s["operators.kelos_batch.stage_a"]
        a_stages = prefixes["operators.kelos_batch.stage_a"]["stages"]
        m.update(
            {
                "stage_a.s": stage_a - exch,
                "stage_b.s": full - stage_a,
                # rows entering the window cogroup exchange: exploded
                # assignments plus window clusters
                "explode.rows": sum(st["shuffle_write_records"] for st in full_stages)
                - sum(st["shuffle_write_records"] for st in a_stages),
            }
        )
    return m
