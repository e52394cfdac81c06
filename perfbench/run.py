"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``ingest_stream``, ``analytics_mix`` or ``llm_ops_mix``)
against the package in the checkout this file sits in, at ``local[nproc]``.
Prints one line of run facts, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, with the
Spark event log switched on). All scratch files live under
``.perfbench_work/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure as M  # noqa: E402  (pure Python; no Spark import)

END_TO_END_UNITS = {"setup_s": "s", "latency_p50_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def _timing(name: str, values: list[float]) -> dict:
    """A timing as the run facts report it: the median and the 90th
    percentile by name, each with its sample count, plus the highest
    percentile that keeps at least 10 samples beyond it. A percentile the
    samples do not support is null."""
    tail = M.tail_percentile(values)
    return {
        f"{name}_p50_s": {"value": M.median(values) if values else None, "unit": "s", "n": len(values)},
        f"{name}_p90_s": {"value": M.percentile_at(values, 90), "unit": "s", "n": len(values),
                          "tail_pct": tail and tail[0], "tail_value": tail and tail[1]},
    }


def named_metrics(workload: str, res, peak_mb: float, failed: int, attempted: int) -> dict:
    """The end-to-end metrics under the names of the benchmark's design,
    which differ by workload (``BENCHMARK.json`` can only hold the ones
    every workload has)."""
    out = {"setup_s": {"value": res.setup_s, "unit": "s"}}
    if workload == "ingest_stream":
        out.update(_timing("commit_latency", res.latencies))
        out["drain_rows_per_s"] = {"value": res.drain_rows_per_s, "unit": "rows/s"}
    out.update(_timing("query_latency", res.query_latencies))
    out["pass_s"] = {"value": M.median(res.passes) if res.passes else None, "unit": "s", "n": len(res.passes)}
    out["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    out["failed_share"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    return out


def _cpu_fields() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_facts(cores: int) -> dict:
    a = _cpu_fields()
    time.sleep(0.2)
    b = _cpu_fields()
    d = [y - x for x, y in zip(a, b)]
    import duckdb
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "nproc": os.cpu_count(), "cores": cores, "load1": os.getloadavg()[0],
        "steal_share": d[7] / max(1, sum(d)) if len(d) > 7 else None,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
        "git_sha": sha,
    }


def spark_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark writes inside ``work``; with tracing, switch the
    event log on from the launch arguments (the package's session factory
    is left as it is)."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # The session factory's 8g driver heap lets the JVM grow to whatever the
    # run's garbage reaches before a collection, so peak RSS would track GC
    # timing; tiny inputs need far less.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    args = [
        f"--conf spark.local.dir={work}/spark-local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--driver-java-options -Djava.io.tmpdir={work}/tmp",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        args += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def stop_spark(run) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM and
    its Python workers to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    run.spark.stop()
    run.spark = None
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while len(M.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "drive_health_etl_spark", "__init__.py")):
        print(f"perfbench: no drive_health_etl_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    log_dir = spark_env(work, bool(args.trace))
    facts = host_facts(cores)
    run = W.Run(work, args.seed, args.seconds, bool(args.trace), cores)
    t_work = time.monotonic()
    try:
        with M.RssSampler() as rss:
            res = W.WORKLOADS[args.workload](run)
        app_id = run.spark.sparkContext.applicationId
        t_stop = time.monotonic()
        stop_spark(run)
        facts["stop_s"] = time.monotonic() - t_stop
        if args.trace:
            log = M.parse_event_log(M.find_event_log(log_dir, app_id))
            res.layers.update(W.spark_layers(run, log, res))
    finally:
        stop_spark(run)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # left in place while another run uses it
        except OSError:
            pass

    if res.latencies and res.passes:
        e2e = {
            "setup_s": res.setup_s,
            "latency_p50_s": M.median(res.latencies),
            "pass_s": M.median(res.passes),
            "peak_rss_mb": rss.peak / 2**20,
        }
    else:
        e2e = {}
        run.fail("no operation completed")
    phase_s: dict[str, float] = {}
    for s in run.tracer.spans:
        if s.parent is None:
            phase_s[s.name] = phase_s.get(s.name, 0.0) + s.duration
    facts["phase_s"] = phase_s
    if args.trace:
        self_s: dict[str, float] = {}
        for s in run.tracer.spans:
            self_s[s.name] = self_s.get(s.name, 0.0) + run.tracer.self_time(s)
        facts["self_time_s"] = self_s
    facts["startup_s"] = t_work - T_START
    facts["total_s"] = time.monotonic() - T_START
    failed = len(run.failures)
    attempted = max(1, res.attempted)
    facts.update(res.record, workload=args.workload, seed=args.seed, seconds=args.seconds,
                 trace=args.trace, passes_s=res.passes, failures=run.failures[:20],
                 metrics=named_metrics(args.workload, res, rss.peak / 2**20, failed, attempted))
    print("perfbench run " + json.dumps(facts, default=str))
    if args.trace:
        metrics = {k: {"value": v, "unit": W.LAYER_UNITS[k]} for k, v in sorted(res.layers.items())}
        metrics.update({f"traced.{k}": {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()})
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0 and bool(e2e), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
