"""Re-record ``eventlog_small.jsonl``: a tiny local Spark application with
the event log on, reduced to the events and fields the parser reads.

    python3 perfbench/tests/fixtures/record_eventlog.py

Job group ``s1`` scans a parquet file; ``s2`` runs a shuffle; one job runs
with no group.
"""

import json
import os
import shutil
import sys
import tempfile

KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerTaskEnd": ("Event", "Stage ID"),
}
TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time", "Memory Bytes Spilled",
                "Disk Bytes Spilled", "Shuffle Read Metrics", "Shuffle Write Metrics", "Input Metrics")
PROPS = ("spark.jobGroup.id", "streaming.sql.batchId")


def reduce(ev: dict) -> dict | None:
    keep = KEEP.get(ev.get("Event"))
    if keep is None:
        return None
    out = {k: ev[k] for k in keep if k in ev}
    if ev["Event"] == "SparkListenerJobStart":
        out["Properties"] = {k: v for k, v in (ev.get("Properties") or {}).items() if k in PROPS}
    else:
        m = ev.get("Task Metrics") or {}
        out["Task Metrics"] = {k: m[k] for k in TASK_METRICS if k in m}
    return out


def main() -> int:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp()
    try:
        spark = (SparkSession.builder.master("local[2]").appName("eventlog-fixture")
                 .config("spark.eventLog.enabled", "true").config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir", f"file://{tmp}").config("spark.ui.enabled", "false")
                 .getOrCreate())
        sc = spark.sparkContext
        spark.range(2000).write.parquet(f"{tmp}/t")
        sc.setJobGroup("s1", "scan")
        spark.read.parquet(f"{tmp}/t").filter("id % 3 = 0").count()
        sc.setJobGroup("s2", "shuffle")
        spark.range(5000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(100).count()
        app = sc.applicationId
        spark.stop()
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, os.path.dirname(os.path.dirname(here)))
        from measure import _log_files, find_event_log

        with open(os.path.join(here, "eventlog_small.jsonl"), "w", encoding="utf-8") as fout:
            for part in _log_files(find_event_log(tmp, app)):
                with open(part, encoding="utf-8") as fin:
                    for line in fin:
                        ev = reduce(json.loads(line))
                        if ev is not None:
                            fout.write(json.dumps(ev) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
