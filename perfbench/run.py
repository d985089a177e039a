"""Seeded benchmark of the engine's two paper pipelines and an
interactive query mix.

    python3 perfbench/run.py --workload music_forecast --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates its input from ``--seed`` (``perfbench/gen.py``) under
   ``.perfbench_work/`` — the program only ever sees that directory;
2. sets up: ``get_spark`` + ``plans.load_all()`` + a warm-up pass on a
   tiny input, timed as ``setup_s``;
3. measures the workload (``perfbench/workloads.py``) for ``--seconds``
   — batch workloads run at least one whole pipeline pass, the mix runs
   until every client has completed one full rotation;
4. checks every output outside the timed region (``perfbench/gate.py``);
5. stops Spark and the driver JVM and waits for them to exit.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1`` (spans recorded around the public calls, see
``perfbench/spans.py``; layers a workload never calls read 0). Each run
also writes an environment record and, when traced, its spans under
``.perfbench_work/``; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import faulthandler
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PKG = "big_data_competition_dxc_spark"

#: Driver-JVM heap for every run. The program's local default (16g) is
#: most of a 15 GB machine's memory; the benchmark inputs need far less.
DRIVER_MEM = "4g"
#: A run that has not finished by then dumps its stacks and exits 1.
WATCHDOG_S = 170


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _isolate(run_dir: Path, cores: int) -> None:
    """Environment for everything this run starts: temp files, Spark
    scratch space and JVM temp files stay inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _percentile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _gate(workload: str, seed: int, data_dir: Path, calls) -> tuple[int, list[str]]:
    """Wrong outputs among ``calls`` (failed calls are counted elsewhere)."""
    from big_data_competition_dxc_spark.plans.registry import QUERIES

    from gate import AuditLog, Oracle, audit_values, check_ml, result_hash
    from workloads import BATCH_STEPS

    steps = {s.layer: s for s in BATCH_STEPS}
    expected: dict[str, str] = {}
    audits: dict[str, list] = {}
    problems: list[str] = []
    oracle = Oracle(data_dir)
    try:
        counts = oracle.ml_counts()
        for call in calls:
            if call.error:
                continue
            step = steps.get(call.name)
            if step is None or step.oracle:  # a registry query with an oracle
                query = step.oracle if step else call.name
                if query not in expected:
                    expected[query] = oracle.hash(QUERIES[query].oracle)
                if result_hash(call.cols, call.rows) != expected[query]:
                    problems.append(f"{call.name}: result differs from its DuckDB oracle")
            elif not step.collect:  # a counted frame
                want = counts["feature_rows" if step.function == "daily_features" else "ratings"]
                if call.n_rows != want:
                    problems.append(f"{call.name}: {call.n_rows} rows, expected {want}")
            else:  # an ML battery
                rows = [r.asDict() for r in call.rows]
                if problem := check_ml(step.function, rows, counts):
                    problems.append(problem)
                audits.setdefault(step.function, []).append(audit_values(rows))
    finally:
        oracle.close()
    # audit scalars repeat across this run's passes and earlier runs of the seed
    for name, values in audits.items():
        if any(v != values[0] for v in values):
            problems.append(f"{name}: audit scalars differ between passes")
    log = AuditLog(WORK / "audits.json")
    for name in log.check(f"{workload}:{seed}", {k: v[0] for k, v in audits.items()}):
        problems.append(f"{name}: audit scalars differ from an earlier run of seed {seed}")
    log.save()
    return len(problems), problems


def _end_to_end(workload: str, setup: dict, result, memory: dict) -> dict[str, float]:
    from workloads import WRITE_QUERIES

    by_kind: dict[str, list[float]] = {}  # read latencies per request kind
    if workload == "analytics_mix":
        for c in result.calls:
            if c.name not in WRITE_QUERIES:
                by_kind.setdefault(c.name, []).append(c.latency_s)
        pipeline_s, req_per_s = result.rotation_s, len(result.calls) / result.window_s
    else:  # the client's requests are the two pipelines
        by_kind = result.pipeline_walls
        pipeline_s = statistics.median(result.pass_walls)
        req_per_s = sum(map(len, by_kind.values())) / sum(result.pass_walls)
    reads = [lat for lats in by_kind.values() for lat in lats]
    return {
        "setup_s": setup["setup_s"],
        "pipeline_s": pipeline_s,
        "req_per_s": req_per_s,
        # each kind's median, so the mix of kinds cannot move it
        "read_p50_ms": statistics.geometric_mean(map(statistics.median, by_kind.values())) * 1000.0,
        "read_p90_ms": _percentile(reads, 90) * 1000.0,
        "driver_heap_retained_mb": memory["retained_mb"],
    }


def _per_layer(workload: str, spec: dict, setup: dict, result, tracer, memory: dict, gate: dict) -> dict[str, float]:
    """Layer metrics; a layer the workload never calls reads 0. Batch
    layers are per pass, mix layers over the window."""
    from workloads import MIX_QUERIES, median_latency_ms

    mix = workload == "analytics_mix"
    n_passes = 1 if mix else len(result.passes)
    m: dict[str, float] = {}
    totals = tracer.totals()
    for spec_m in spec["per_layer"]:
        layer, _, measure = spec_m["name"].rpartition(".")
        if measure in ("wall_s", "jobs", "tasks", "rows_out", "calls"):
            m[spec_m["name"]] = totals.get(layer, {}).get(measure, 0.0) / n_passes
        elif measure == "core_util":
            m[spec_m["name"]] = totals.get(layer, {}).get("core_util", 0.0)
    m["session.get_spark.wall_s"] = setup["get_spark_s"]
    m["session.jvm.peak_rss_mb"] = memory["peak_rss_mb"]
    for name in ("music_forecast", "book_recommend"):
        m[f"{name}.pipeline_s"] = 0.0 if mix else statistics.median(result.pipeline_walls[name])
    m["plans.memos.warm_hits"] = result.warm_hits / n_passes
    # scheduler wait: loaded (4-client) p50 minus the 1-client latency
    single = {c.name: c.latency_s * 1000.0 for c in result.single} if mix else {}
    for q in MIX_QUERIES:
        loaded = median_latency_ms(result.calls, q) if mix else 0.0
        m[f"plans.registry.{q}.p50_ms"] = loaded
        m[f"session.scheduler.{q}.wait_ms"] = loaded - single.get(q, 0.0)
    m["session.scheduler.wait_ms"] = statistics.mean(
        m[f"session.scheduler.{q}.wait_ms"] for q in MIX_QUERIES
    )
    m["gate.wrong_results"] = gate["wrong"]
    m["gate.fail_ratio"] = gate["failed"] / gate["attempted"]
    measured_s = result.window_s if mix else sum(result.pass_walls)
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.overhead_pct"] = 100.0 * tracer.overhead_s / measured_s
    m["trace.pipeline_s"] = _end_to_end(workload, setup, result, memory)["pipeline_s"]
    return m


def run(args, spec: dict) -> dict:
    import gen
    from spans import Tracer, jvm_retained_heap_mb, proc_cpu_s, proc_peak_rss_mb

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir, cores)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_start": _loadavg(),
        "driver_memory": DRIVER_MEM,
        "python": sys.version.split()[0],
    }
    steal0 = _cpu_steal_ticks()
    try:
        data_dir = gen.generate(run_dir / "data" / "main", args.seed)
        tiny_dir = gen.generate(run_dir / "data" / "tiny", args.seed, gen.TINY)

        # --- set-up (timed) ---
        t0 = time.perf_counter()
        from big_data_competition_dxc_spark.session import get_spark

        t_gs = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t_gs
        try:
            spark.sparkContext.setLogLevel("ERROR")
            from big_data_competition_dxc_spark import plans

            plans.load_all()
            from workloads import Context, run_batch, run_mix, warm_up

            jvm_pid = spark.sparkContext._gateway.proc.pid
            tracer = Tracer(bool(args.trace), spark, jvm_pid, cores)
            ctx = Context(spark, tracer, data_dir, tiny_dir, args.seconds, cores)
            warm_up(ctx, args.workload)
            setup = {"setup_s": time.perf_counter() - t0, "get_spark_s": get_spark_s}
            env["spark.driver.memory"] = spark.conf.get("spark.driver.memory", None)
            env["spark.master"] = spark.sparkContext.master
            env["jvm_comm"] = Path(f"/proc/{jvm_pid}/comm").read_text().strip()

            # --- measured window ---
            from big_data_competition_dxc_spark.sources import load

            tracer.wrap_everywhere(PKG, load, "sources.load")
            cpu0 = proc_cpu_s(jvm_pid)
            if args.workload == "analytics_mix":
                result = run_mix(ctx)
                calls = result.calls + result.single
            else:
                result = run_batch(ctx)
                calls = [c for p in result.passes for c in p]
            env["jvm_cpu_s"] = proc_cpu_s(jvm_pid) - cpu0
            memory = {"peak_rss_mb": proc_peak_rss_mb(jvm_pid), "retained_mb": jvm_retained_heap_mb(spark)}
            env["steal_ticks"] = _cpu_steal_ticks() - steal0
            env["loadavg_end"] = _loadavg()

            # --- correctness gate (untimed) ---
            failed = sum(1 for c in calls if c.error)
            wrong, problems = _gate(args.workload, args.seed, data_dir, calls)
            for p in problems:
                _log(f"WRONG {p}")
            gate = {"attempted": len(calls), "failed": failed, "wrong": wrong}
            if args.trace:
                metrics = _per_layer(args.workload, spec, setup, result, tracer, memory, gate)
            else:
                metrics = _end_to_end(args.workload, setup, result, memory)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    record = {
        "env": env,
        "gate": {**gate, "problems": problems},
        "metrics": metrics,
        "calls": [[c.name, c.client, c.latency_s, c.n_rows, c.error is None] for c in calls],
    }
    (WORK / "records").mkdir(parents=True, exist_ok=True)
    (WORK / "records" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        tracer.dump(WORK / "traces" / f"{tag}.json", env)
    _log("env " + json.dumps(env))
    return {
        "correct": failed == 0 and wrong == 0,
        "attempted": len(calls),
        "failed": failed + wrong,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    found = importlib.util.find_spec(PKG)
    if found is None or not Path(found.origin).is_relative_to(ROOT):
        _log(f"package {PKG} not found under {ROOT}: nothing to measure")
        return 2
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    out = run(args, spec)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    missing = set(units) - set(out["metrics"])
    if missing:
        _log(f"metrics not produced: {sorted(missing)}")
        return 3
    out["metrics"] = {n: {"value": out["metrics"][n], "unit": u} for n, u in units.items()}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
