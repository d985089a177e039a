"""The benchmark's workloads, driven through the engine's public
functions.

- ``paper_pipelines``: one client runs the paper's two batch pipelines
  back to back. ``music_forecast`` (workload 1): the rollup, the feature
  table and the four model batteries. ``book_recommend`` (workload 2):
  the ratings derivation, ALS and the KNN recommender.
- ``analytics_mix``: a closed loop of one client thread per core on one
  session, zero think time, each walking a fixed rotation of ten
  registry queries (nine reads, one write-and-read-back) from its own
  offset.

Each pipeline starts with cold memos: the session memos are cleared,
every cached frame and persisted RDD is released, and each pass reads
its input through a path of its own (hard links to the same files), so
caches keyed by input path cannot carry over between passes.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

PKG = "big_data_competition_dxc_spark"


@dataclass(frozen=True)
class Step:
    """One public call of a batch pipeline and how its result is read."""

    layer: str  # "<module>.<function>" under the package
    collect: bool  # collect the rows (else count them)
    oracle: str | None = None  # registry query whose oracle checks the rows

    @property
    def function(self) -> str:
        return self.layer.rsplit(".", 1)[1]

    def resolve(self):
        module, fn = self.layer.rsplit(".", 1)
        return getattr(importlib.import_module(f"{PKG}.{module}"), fn)


PIPELINES: dict[str, tuple[Step, ...]] = {
    "music_forecast": (
        Step("operators.rollup.daily_user_rollup", collect=True, oracle="daily_rollup"),
        Step("ml.regression.daily_features", collect=False),
        Step("ml.regression.ml_linear_regression", collect=True),
        Step("ml.regression.ml_random_forest", collect=True),
        Step("ml.regression.ml_gbt_horizon_blend", collect=True),
        Step("ml.clustering.ml_cluster_ensemble", collect=True),
    ),
    "book_recommend": (
        Step("ml.recommend.ratings", collect=False),
        Step("ml.recommend.ml_als_recommend", collect=True),
        Step("ml.recommend.knn_user_recommend", collect=True, oracle="knn_user_recommend"),
    ),
}

MIX_QUERIES = (
    "daily_rollup",
    "hour_bucket_rollup",
    "dayofweek_rollup",
    "lag_window",
    "topk_days_per_user",
    "join_snowflake_rollup",
    "pricing_summary",
    "ratings_matrix_stats",
    "knn_user_neighbors",
    "parquet_partitioned_roundtrip",
)
WRITE_QUERIES = frozenset({"parquet_partitioned_roundtrip"})
#: Seconds one rotation of the mix takes per client under full load on a
#: 4-core machine; sets how many rotations fill a run's ``seconds``.
ROTATION_S = 16.0
BATCH_STEPS = tuple(s for steps in PIPELINES.values() for s in steps)


@dataclass
class Call:
    """One completed public call: timing, result and outcome."""

    name: str
    start: float
    end: float
    client: int = 0
    cols: list[str] = field(default_factory=list)
    rows: list | None = None
    n_rows: int = 0
    error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.end - self.start


@dataclass
class Context:
    spark: object
    tracer: object
    data_dir: Path  # the generated input
    tiny_dir: Path  # the warm-up input
    seconds: float
    cores: int


def _run_call(ctx: Context, name: str, fn, data_dir: Path, collect: bool, client: int = 0) -> Call:
    """Call ``fn`` and read its result; a failure is recorded, not raised,
    so one failing request cannot stop the run."""
    call = Call(name=name, start=time.perf_counter(), end=0.0, client=client)
    try:
        df = fn(ctx.spark, str(data_dir))
        call.cols = list(df.columns)
        if collect:
            call.rows = df.collect()
            call.n_rows = len(call.rows)
        else:
            call.n_rows = df.count()
    except Exception:  # noqa: BLE001 - counted as a failed call
        call.error = traceback.format_exc()
        print(f"[perfbench] {name} failed:\n{call.error}", file=sys.stderr)
    call.end = time.perf_counter()
    return call


def warm_up(ctx: Context, workload: str) -> None:
    """The set-up warm-up pass on the tiny input. It pays the fresh
    JVM's first-query cost (class loading, code generation, the first
    shuffle) so the measured window does not: the flagship rollup for
    the batch pipelines; for ``analytics_mix`` every query of its
    rotation, one client per core, since each query shape compiles on
    its first run."""
    from big_data_competition_dxc_spark.plans.registry import QUERIES

    def one(q: str) -> None:
        if _run_call(ctx, q, QUERIES[q].fn, ctx.tiny_dir, collect=True).error:
            raise RuntimeError(f"warm-up query {q} failed")

    if workload != "analytics_mix":
        one("daily_rollup")
        return
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        for future in [pool.submit(one, q) for q in MIX_QUERIES]:
            future.result()


def _release_state(spark) -> None:
    """Cold start for the next pass: forget every session memo and
    release every cached frame and persisted RDD."""
    from big_data_competition_dxc_spark.plans.memos import clear_all

    clear_all()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _pass_dir(data_dir: Path, k: int) -> Path:
    """A fresh path to the same input files for pass ``k``."""
    alias = data_dir.parent / f"{data_dir.name}-pass{k}"
    alias.mkdir()
    for f in data_dir.glob("*.parquet"):
        try:
            os.link(f, alias / f.name)
        except OSError:  # no hard links on this file system
            shutil.copyfile(f, alias / f.name)
    return alias


@dataclass
class BatchResult:
    passes: list[list[Call]]
    pass_walls: list[float]
    pipeline_walls: dict[str, list[float]]  # per pipeline, one per pass
    warm_hits: int


def run_batch(ctx: Context) -> BatchResult:
    """Run passes of both pipelines until another pass would overrun
    ``seconds`` (at least one). Each pipeline starts cold; the release
    between them is not timed."""
    from big_data_competition_dxc_spark.plans.memos import consume_warm_hits

    pipelines = {name: [(s, s.resolve()) for s in steps] for name, steps in PIPELINES.items()}
    res = BatchResult(passes=[], pass_walls=[], pipeline_walls={n: [] for n in PIPELINES}, warm_hits=0)
    t_window = time.perf_counter()
    while True:
        data = _pass_dir(ctx.data_dir, len(res.passes))
        calls: list[Call] = []
        for name, steps in pipelines.items():
            _release_state(ctx.spark)
            consume_warm_hits()
            t0 = time.perf_counter()
            for step, fn in steps:
                with ctx.tracer.span(step.layer, count_jobs=True) as span:
                    call = _run_call(ctx, step.layer, fn, data, step.collect)
                    span["rows_out"] = call.n_rows
                calls.append(call)
            res.pipeline_walls[name].append(time.perf_counter() - t0)
            res.warm_hits += consume_warm_hits()
        wall = sum(w[-1] for w in res.pipeline_walls.values())
        res.passes.append(calls)
        res.pass_walls.append(wall)
        if time.perf_counter() - t_window + wall > ctx.seconds:
            return res


@dataclass
class MixResult:
    calls: list[Call]
    rotation_s: float  # median wall of one client's rotation of the ten queries
    window_s: float  # first request sent to last response
    warm_hits: int  # memo lookups served warm in the window
    single: list[Call] = field(default_factory=list)  # 1-client pass (traced runs)


def run_mix(ctx: Context) -> MixResult:
    """Closed loop: ``cores`` clients, zero think time, each sending the
    same number of whole rotations of the ten queries, so every run does
    the same work: enough rotations to fill about ``seconds``."""
    from big_data_competition_dxc_spark.plans.memos import consume_warm_hits
    from big_data_competition_dxc_spark.plans.registry import QUERIES

    n_q = len(MIX_QUERIES)
    calls: list[Call] = []
    lock = threading.Lock()
    rotation_s: list[float] = []  # wall of each client's each rotation
    consume_warm_hits()
    rotations = max(1, round(ctx.seconds / ROTATION_S))
    t0 = time.perf_counter()

    def client(i: int) -> None:
        offset = i * n_q // ctx.cores
        started = time.perf_counter()
        for k in range(rotations * n_q):
            q = MIX_QUERIES[(offset + k) % n_q]
            with ctx.tracer.span(f"plans.registry.{q}", client=i):
                call = _run_call(ctx, q, QUERIES[q].fn, ctx.data_dir, collect=True, client=i)
            with lock:
                calls.append(call)
                if k % n_q == n_q - 1:
                    rotation_s.append(call.end - started)
                    started = call.end

    threads = [threading.Thread(target=client, args=(i,), name=f"client-{i}") for i in range(ctx.cores)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res = MixResult(
        calls=calls,
        rotation_s=statistics.median(rotation_s),
        window_s=max(c.end for c in calls) - t0,
        warm_hits=consume_warm_hits(),
    )
    if ctx.tracer.enabled:
        # one request per query from a single client, after the loaded
        # window so it cannot change what the window measured
        res.single = [
            _run_call(ctx, q, QUERIES[q].fn, ctx.data_dir, collect=True) for q in MIX_QUERIES
        ]
    return res


def median_latency_ms(calls: list[Call], name: str) -> float:
    lat = [c.latency_s for c in calls if c.name == name]
    return statistics.median(lat) * 1000.0 if lat else 0.0
