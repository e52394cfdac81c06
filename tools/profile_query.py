"""Per-query optimization profiler (round 11).

For each named query: time (a) the DataFrame build (plan construction +
analysis driver cost), (b) each of N noop-sink executions (guide §1.4), and
write `.explain("formatted")` to plans/r12/<name>_<tag>.txt so plan claims
are checkable without running Spark.

Usage:
  python tools/profile_query.py [--sf DIR] [--n N] [--tag before] q1 q2 ...
  python tools/profile_query.py --tag before --top 20      # 20 slowest from BENCH_DETAIL
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_noop  # noqa: E402
from drive_health_etl_spark.plans.registry import REGISTRY  # noqa: E402
from drive_health_etl_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3, help="noop executions per query")
    ap.add_argument("--tag", default=None, help="write plans/r12/<name>_<tag>.txt")
    ap.add_argument("--top", type=int, default=0, help="profile the K slowest from BENCH_DETAIL")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            q = json.load(f)["queries"]
        names += [k for k, _ in sorted(q.items(), key=lambda kv: -kv[1])[: args.top]
                  if k not in names]

    spark = get_spark("dhe-profile")
    spark.sparkContext.setLogLevel("ERROR")
    plans_dir = os.path.join(REPO, "plans", "r12")
    os.makedirs(plans_dir, exist_ok=True)

    rows = []
    for name in names:
        fn = REGISTRY[name][0]
        spark.sparkContext.setJobDescription(f"profile: {name}")
        # warm fit caches / codegen with one untimed full run
        time_noop(fn, spark, args.sf)
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t_build = time.perf_counter() - t0
        execs = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            execs.append(time.perf_counter() - t0)
        # a fresh build each sample is what bench.py times; report that too
        full = [time_noop(fn, spark, args.sf) for _ in range(2)]
        if args.tag:
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(spark.sparkContext._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        rows.append((name, t_build, min(execs), min(full)))
        print(f"{name:36s} build={t_build:6.3f}s exec_min={min(execs):6.3f}s "
              f"full_min={min(full):6.3f}s", flush=True)

    print("\nname, build_s, exec_min_s, full_min_s")
    for r in rows:
        print(f"{r[0]}, {r[1]:.3f}, {r[2]:.3f}, {r[3]:.3f}")


if __name__ == "__main__":
    main()
