"""Workload shapes, seeded inputs, the ``core.run_stream`` oracle and the
single-thread ``core`` replay.  Nothing here starts Spark.

Every shape is fixed per workload and independent of the host.  Inputs
are a pure function of (workload, seed) and are cached on disk under the
benchmark's work directory, together with the oracle's windows.
"""

from __future__ import annotations

import copy
import hashlib
import os
import pickle
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from kelos_on_kafka_spark import core
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.functions.features import page_features_pandas
from kelos_on_kafka_spark.sources.pages import synth_pages
from kelos_on_kafka_spark.sources.points import gmm_points

START_EPOCH = 1_700_000_000  # pane-aligned (multiple of pane_seconds)
CACHE_VERSION = 2
CACHE_ENTRIES = 24  # (workload, seed) inputs kept on disk
PACKAGE_DIR = os.path.dirname(os.path.abspath(core.__file__))


def package_digest() -> str:
    """Hash of the package's Python sources.  The generators and the
    oracle are package code, so a cached input or oracle is only reused
    by the same code that made it."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(PACKAGE_DIR):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, PACKAGE_DIR).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


@dataclass(frozen=True)
class Shape:
    name: str
    plan: str  # "streamwise", "window_parallel" or "stream"
    source: str  # "pages" or "gmm"
    records: int
    per_pane: int
    shards: int
    shuffle_partitions: int
    input_files: int
    late_share: float = 0.0
    watermark_delay: str = "0 seconds"
    cfg: KelosConfig = KelosConfig(n=100)

    @property
    def kind(self) -> str:
        return "stream" if self.plan == "stream" else "batch"

    @property
    def pane_ms(self) -> int:
        return self.cfg.pane_seconds * 1000


WORKLOADS = {
    # BASELINE flagship: many logical shards, ~5 clusters per window.  Not
    # in BENCHMARK.json: on a 4-vCPU VM its job times are bimodal from
    # one JVM to the next (IQR/median of records_per_s 0.17-0.24 over
    # 5-10 seeds, at 4000 and 8000 pages, 8 and 16 shuffle partitions,
    # one or two warm-up jobs), too close to the 0.25 bound; run it by
    # name.
    "pages_batch": Shape(
        name="pages_batch",
        plan="streamwise",
        source="pages",
        records=4000,
        per_pane=500,
        shards=64,
        shuffle_partitions=8,
        input_files=2,
    ),
    # The reference's GMM evaluation data, 3000 elements/window, one
    # logical stream through the window-parallel plan: kernel-bound.
    "gmm_batch": Shape(
        name="gmm_batch",
        plan="window_parallel",
        source="gmm",
        records=5000,
        per_pane=1000,
        shards=1,
        shuffle_partitions=8,
        input_files=2,
    ),
    # kelos_stream on one shard, one pane per file and micro-batch; 5% of
    # each pane's rows arrive one file late, inside the watermark delay.
    "pages_stream": Shape(
        name="pages_stream",
        plan="stream",
        source="pages",
        records=10000,
        per_pane=1000,
        shards=1,
        shuffle_partitions=1,
        input_files=10,
        late_share=0.05,
        watermark_delay="10 seconds",
    ),
}

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
POINTS_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("features", pa.list_(pa.float64())),
    ]
)


def _write_parquet(pdf: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _generate(shape: Shape, seed: int) -> pd.DataFrame:
    """The generated records, as the ``sources`` layer makes them."""
    if shape.source == "pages":
        pdf = synth_pages(
            n=shape.records,
            seed=seed,
            pages_per_pane=shape.per_pane,
            pane_seconds=shape.cfg.pane_seconds,
            start_epoch=START_EPOCH,
        ).drop(columns=["kind"])
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        return pdf
    pdf = gmm_points(
        n=shape.records,
        seed=seed,
        elements_per_window=shape.per_pane * shape.cfg.panes_per_window,
        panes_per_window=shape.cfg.panes_per_window,
        pane_seconds=shape.cfg.pane_seconds,
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"] + START_EPOCH, unit="s", utc=True)
    return pdf


def _stream_files(shape: Shape, pdf: pd.DataFrame, seed: int) -> list[pd.DataFrame]:
    """One file per pane; a fixed share of each pane's rows moves to the
    next pane's file (late, but within the watermark delay)."""
    rng = np.random.default_rng(seed + 7919)
    panes = np.arange(len(pdf)) // shape.per_pane
    late = np.zeros(len(pdf), dtype=bool)
    n_late = int(round(shape.late_share * shape.per_pane))
    for p in range(shape.input_files - 1):  # the last pane has no next file
        idx = np.nonzero(panes == p)[0]
        late[rng.choice(idx, size=n_late, replace=False)] = True
    file_of = panes + late
    return [pdf[file_of == f] for f in range(shape.input_files)]


def _prune(cache_root: str, keep: int) -> None:
    """Drop the least recently created cache entries beyond ``keep``."""
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for path in entries[:-keep]:
        shutil.rmtree(path, ignore_errors=True)


class Inputs:
    """Cached generated input of one (workload, seed)."""

    def __init__(self, shape: Shape, seed: int, cache_root: str) -> None:
        self.shape = shape
        self.seed = seed
        key = hashlib.sha1(
            f"{CACHE_VERSION}{shape}{package_digest()}".encode()
        ).hexdigest()[:10]
        self.dir = os.path.join(cache_root, f"{shape.name}-s{seed}-{key}")
        self.input_dir = os.path.join(self.dir, "input")

    def ensure(self) -> None:
        marker = os.path.join(self.dir, "_READY")
        if os.path.exists(marker):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        pdf = _generate(self.shape, self.seed)
        if self.shape.kind == "stream":
            parts = _stream_files(self.shape, pdf, self.seed)
        else:
            bounds = np.linspace(0, len(pdf), self.shape.input_files + 1).astype(int)
            parts = [pdf.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
        schema = PAGES_SCHEMA if self.shape.source == "pages" else POINTS_SCHEMA
        for i, part in enumerate(parts):
            path = os.path.join(self.input_dir, f"part-{i:05d}.parquet")
            _write_parquet(part, schema, path)
            # the file source orders files by modification time
            os.utime(path, (START_EPOCH + i, START_EPOCH + i))
        open(marker, "w").close()
        _prune(os.path.dirname(self.dir), keep=CACHE_ENTRIES)

    def records(self) -> pd.DataFrame:
        return ds.dataset(self.input_dir, format="parquet").to_table().to_pandas()

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.input_dir, f))
            for f in os.listdir(self.input_dir)
        )

    def stage(self, dest: str) -> str:
        """Copy the cached input files into a fresh directory."""
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(self.input_dir, dest)
        return dest

    # --- oracle -----------------------------------------------------------

    def points(self, ids: pd.DataFrame | None) -> pd.DataFrame:
        """The engine's point input ``(shard, id, ts_s, features)``.  For
        pages, ``ids`` maps url -> engine point id (xxhash64, computed by
        Spark) and features come from the same pandas function the
        feature UDF runs."""
        pdf = self.records()
        if self.shape.source == "gmm":
            out = pd.DataFrame({"id": pdf["id"].to_numpy(np.int64)})
            out["features"] = pdf["features"]
            ts = pdf["ts"]
        else:
            out = pdf[["url"]].merge(ids, on="url", how="left", validate="1:1")
            out["features"] = list(
                page_features_pandas(pdf["text"], pdf["html"])
            )
            ts = pdf["warc_ts"]
        out["ts_s"] = (ts - pd.Timestamp(0, tz="UTC")) / pd.Timedelta(seconds=1)
        out["shard"] = out["id"] % self.shape.shards
        return out[["shard", "id", "ts_s", "features"]]

    def oracle(self, ids: pd.DataFrame | None) -> dict:
        """{(shard, window_id): ((rank, point_id, klome hex), ...)} from
        ``core.run_stream``, per shard, cached per (workload, seed)."""
        path = os.path.join(self.dir, "oracle.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        pts = self.points(ids)
        cfg = self.shape.cfg
        expected: dict = {}
        for shard, grp in pts.groupby("shard", sort=True):
            for w in core.run_stream(
                grp["id"].to_numpy(),
                grp["ts_s"].to_numpy(),
                np.array(grp["features"].tolist(), dtype=np.float64),
                pane_seconds=cfg.pane_seconds,
                panes_per_window=cfg.panes_per_window,
                threshold=cfg.distance_threshold,
                k=cfg.k,
                n=cfg.n,
                kernel=cfg.kernel,
            ):
                expected[(int(shard), int(w.pane_id))] = tuple(
                    (int(o.rank), int(o.point_id), float(o.klome).hex())
                    for o in w.outliers
                )
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(expected, fh)
        os.replace(path + ".tmp", path)
        return expected


def read_outliers(path: str) -> pd.DataFrame:
    """Read a written outlier table back (untimed).  Hive-style
    ``window_id=`` directories of the stream sink become a column."""
    if not os.path.isdir(path):
        return pd.DataFrame(columns=["shard", "window_id", "rank", "point_id", "klome"])
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def engine_windows(rows: pd.DataFrame) -> dict:
    """Engine output rows -> the oracle's window map."""
    got: dict = {}
    if rows.empty:
        return got
    rows = rows.sort_values(["shard", "window_id", "rank"], kind="stable")
    for (shard, win), grp in rows.groupby(["shard", "window_id"], sort=False):
        got[(int(shard), int(win))] = tuple(
            (int(r), int(p), float(k).hex())
            for r, p, k in zip(grp["rank"], grp["point_id"], grp["klome"])
        )
    return got


def check_windows(expected: dict, got: dict, pane_ms: int = 0, wm_ms: int | None = None):
    """Compare window by window.  Batch output must hold every window.
    A stream must have emitted every window whose end the last watermark
    has passed (a prefix of panes is valid, because window p depends only
    on panes <= p); a window whose end equals the watermark may be out
    yet.  Every emitted window must equal the oracle's.  Returns (windows
    checked, windows failed, first few failing keys)."""
    keys = {
        k for k in expected if wm_ms is None or (k[1] + 1) * pane_ms < wm_ms
    } | set(got)
    bad = sorted(k for k in keys if expected.get(k, ()) != got.get(k, ()))
    return len(keys), len(bad), bad[:5]


# --- single-thread replay of one shard through the public core API --------

CORE_TIMES = (
    "cluster_pane",
    "aggregate_window",
    "carry",
    "knn_clusters",
    "cluster_kde",
    "prune",
    "point_stage",
)
CORE_COUNTS = (
    "window_points",
    "clusters",
    "survivors",
    "flagged",
    "candidates",
    "outliers",
)


def replay_core(pts: pd.DataFrame, cfg: KelosConfig, tracer) -> dict:
    """Replay one shard pane by pane.  ``point_stage`` is
    ``window_pipeline`` minus its cluster-level calls, which are replayed
    on a copy of the window's clusters."""
    ids_all = pts["id"].to_numpy(np.int64)
    X_all = np.array(pts["features"].tolist(), dtype=np.float64)
    pane_all = np.floor(pts["ts_s"].to_numpy() / cfg.pane_seconds).astype(np.int64)
    times = dict.fromkeys(CORE_TIMES, 0.0)
    counts = dict.fromkeys(CORE_COUNTS, 0)
    kernel_fn = core.KERNELS[cfg.kernel]
    state = core.ShardState()
    ring: list = []
    windows = 0
    clock = time.perf_counter

    def timed(key, fn, *args):
        with tracer.span(f"core.{key}"):
            t0 = clock()
            out = fn(*args)
            dt = clock() - t0
        times[key] += dt
        return out, dt

    with tracer.span("core.replay", points=len(ids_all)):
        for pane in range(int(pane_all.min()), int(pane_all.max()) + 1):
            sel = pane_all == pane
            order = np.argsort(ids_all[sel], kind="stable")
            ids, X = ids_all[sel][order], X_all[sel][order]
            (assignments, pane_clusters), _ = timed(
                "cluster_pane",
                core.cluster_pane,
                ids,
                X,
                state.carry,
                cfg.distance_threshold,
                cfg.k,
            )
            wcs, _ = timed(
                "aggregate_window",
                core.aggregate_window,
                state,
                pane_clusters,
                cfg.panes_per_window,
            )
            state.carry, _ = timed("carry", core.carry_from_window, wcs)
            ring = (ring + [(ids, assignments, X)])[-cfg.panes_per_window :]
            w_ids = np.concatenate([r[0] for r in ring])
            w_cids = np.concatenate([r[1] for r in ring])
            w_X = np.concatenate([r[2] for r in ring])
            replica = copy.deepcopy(wcs)

            with tracer.span("core.window_pipeline"):
                t0 = clock()
                outliers, flags, cands = core.window_pipeline(
                    wcs, w_ids, w_cids, w_X, cfg.k, cfg.n, cfg.kernel
                )
                total = clock() - t0
            _, t_knn = timed("knn_clusters", core.knn_clusters, replica, cfg.k)
            survivors, t_kde = timed(
                "cluster_kde", core.estimate_cluster_densities, replica, kernel_fn
            )
            _, t_prune = timed("prune", core.prune_clusters, survivors, cfg.n)
            times["point_stage"] += total - (t_knn + t_kde + t_prune)
            windows += 1
            counts["window_points"] += len(w_ids)
            counts["clusters"] += len(wcs)
            counts["survivors"] += len(survivors)
            counts["flagged"] += sum(flags.values())
            counts["candidates"] += len(cands)
            counts["outliers"] += len(outliers)
    out = {f"core.{k}.s": v for k, v in times.items()}
    out.update({f"core.{k}": counts[k] / max(windows, 1) for k in CORE_COUNTS})
    out["core.candidate_ratio"] = counts["candidates"] / max(counts["window_points"], 1)
    return out

