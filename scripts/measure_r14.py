"""r14 optimization-round measurement harness.

Times individual registry queries in isolation (bench methodology:
callable + count(), min over N attempts, session memos cleared between
attempts so every attempt pays its own derivations) and captures the
AQE-final ``explain("formatted")`` plan for the plans/r14/ evidence
files.

Usage:
    python scripts/measure_r14.py --names q1,q2 [--sf /root/testdata/sf0.1]
        [--attempts 3] [--plans plans/r14 --suffix _before] [--no-time]

Plans are captured in audit mode (SPARK_GRAFT_NO_CHECKPOINT=1 disables
the result-checkpoint materialization barriers and memo caches) so the
recorded lineage is the real scan/join/exchange profile — same
convention as scripts/gen_plan_audit.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--attempts", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory for plan files")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--no-time", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.plans.memos import clear_all
    from big_data_competition_dxc_spark.session import get_spark
    from big_data_competition_dxc_spark.sources import TABLES, load

    plans.load_all()
    names = [n for n in args.names.split(",") if n]
    unknown = [n for n in names if n not in plans.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("measure-r14")
    spark.sparkContext.setLogLevel("ERROR")

    for t in TABLES:
        try:
            load(spark, args.sf, t).count()
        except Exception:
            pass

    results: dict[str, dict] = {}
    for name in names:
        entry = plans.QUERIES[name]
        if not args.no_time:
            times = []
            for _ in range(args.attempts):
                clear_all()
                spark.sparkContext.setJobDescription(f"r14-measure:{name}")
                t0 = time.perf_counter()
                df = entry.fn(spark, args.sf)
                n = df.count()
                times.append(round(time.perf_counter() - t0, 3))
            results[name] = {"times": times, "min": min(times), "rows": n}
            print(f"# {name}: {times} rows={n}", file=sys.stderr)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            os.environ["SPARK_GRAFT_NO_CHECKPOINT"] = "1"
            try:
                clear_all()
                df = entry.fn(spark, args.sf)
                df.collect()
                qe = df._jdf.queryExecution()
                plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
                path = os.path.join(args.plans, f"{name}{args.suffix}.txt")
                with open(path, "w") as f:
                    f.write(plan)
                print(f"# wrote {path}", file=sys.stderr)
            finally:
                del os.environ["SPARK_GRAFT_NO_CHECKPOINT"]
    if results:
        print(json.dumps(results))


if __name__ == "__main__":
    main()
