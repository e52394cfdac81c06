"""The benchmark's own measurement code."""

import json
import os
import time

import pytest

import measure as M

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


# --- percentile rule -------------------------------------------------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value, n = M.tail_percentile(xs)
    assert (pct, value, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_percentile_moves_down_with_fewer_samples():
    pct, value, n = M.tail_percentile(list(range(1, 41)))
    assert (pct, value, n) == (75.0, 30.0, 40)
    assert M.tail_percentile(list(range(19))) is None  # nothing above the median


def test_percentile_at_refuses_unsupported_percentiles():
    xs = [float(x) for x in range(1, 101)]
    assert M.percentile_at(xs, 90) == 90.0
    assert M.percentile_at(xs[:99], 90) is None  # only 9 samples beyond
    assert M.percentile_at(xs, 50) == 50.0


def test_tail_percentile_is_order_free():
    xs = [5.0, 1.0, 3.0] * 10
    assert M.tail_percentile(xs) == M.tail_percentile(sorted(xs))


# --- open loop ---------------------------------------------------------------------

def test_due_times_are_a_fixed_schedule():
    assert M.due_times(100.0, 0.5, 4) == [100.0, 100.5, 101.0, 101.5]


def test_generator_lag_and_late_files():
    files = [M.DueFile(i, due=10.0 + i, written=10.0 + i + lag) for i, lag in enumerate([0.0, 0.2, 0.9, -0.1])]
    lag = M.generator_lag(files, interval=1.0)
    assert lag["max_s"] == pytest.approx(0.9)
    assert lag["late_files"] == 1  # later than half an interval
    assert files[3].lag == 0.0  # early writes are not negative lag


def test_commit_latency_counts_from_due_time_not_write_time():
    # file 1 was written 2 s late (a stalled generator); its latency still
    # starts when it was due, so the stall shows in the result
    files = [M.DueFile(0, due=0.0, written=0.0), M.DueFile(1, due=1.0, written=3.0)]
    batches = [M.Batch(0, start=0.5, end=1.5, start_files=0, end_files=1, rows=10),
               M.Batch(1, start=3.5, end=4.0, start_files=1, end_files=2, rows=10)]
    assert M.commit_latencies(files, batches) == {0: 1.5, 1: 3.0}


# --- spool files to micro-batches ------------------------------------------------

def _progress(batch_id, ts, start, end, trigger_ms, rows=5):
    return {
        "batchId": batch_id, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 100},
        "sources": [{"startOffset": None if start is None else json.dumps({"n_files": start}),
                     "endOffset": json.dumps({"n_files": end})}],
    }


def test_batches_from_progress_maps_offsets_to_files():
    progress = [
        _progress(0, "2024-03-01T00:00:00.000Z", None, 3, 1500),
        _progress(1, "2024-03-01T00:00:02.000Z", 3, 3, 10),  # no new files: skipped
        _progress(2, "2024-03-01T00:00:02.500Z", 3, 7, 2000),
    ]
    bs = M.batches_from_progress(progress)
    assert [(b.batch_id, b.start_files, b.end_files) for b in bs] == [(0, 0, 3), (2, 3, 7)]
    t0 = M._epoch("2024-03-01T00:00:00.000Z")
    assert bs[0].end - t0 == pytest.approx(1.5)
    assert bs[1].end - t0 == pytest.approx(4.5)
    files = [M.DueFile(i, due=t0 + 0.5 * i) for i in range(8)]
    lat = M.commit_latencies(files, bs)
    assert set(lat) == set(range(7))  # file 7 is not covered: lost
    assert lat[2] == pytest.approx(1.5 - 1.0)
    assert lat[3] == pytest.approx(4.5 - 1.5)


# --- spans ---------------------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert M.covered([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == pytest.approx(5.0)
    assert M.covered([], 0, 1) == 0.0


def test_self_time_subtracts_children():
    t = M.Tracer()
    parent = M.Span("s0", "query", None, 0.0, 10.0)
    t.spans = [parent, M.Span("s1", "plans.build", "s0", 1.0, 3.0),
               M.Span("s2", "plans.execute", "s0", 2.0, 6.0)]
    assert t.self_time(parent) == pytest.approx(5.0)


# --- event log -------------------------------------------------------------------------

def test_event_log_parser_on_recorded_log():
    log = M.parse_event_log(FIXTURE)
    groups = {j.group for j in log.jobs.values()}
    assert {"s1", "s2"} <= groups
    s1 = [j for j in log.jobs.values() if j.group == "s1"]
    tot = M.spark_totals(log, s1)
    assert tot["jobs"] == len(s1) >= 1
    assert tot["tasks"] >= tot["stages"] >= 1
    assert tot["task_run_s"] > 0 and tot["task_cpu_s"] > 0
    assert tot["input_rows"] > 0
    s2 = [j for j in log.jobs.values() if j.group == "s2"]
    t2 = M.spark_totals(log, s2)
    assert t2["shuffle_write_bytes"] > 0 and t2["shuffle_read_bytes"] > 0
    assert t2["single_task_stages"] <= t2["stages"]


def test_attribute_jobs_by_group_then_time():
    log = M.parse_event_log(FIXTURE)
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit)
    spans = [M.Span("s1", "a", None, jobs[0].submit - 1, jobs[-1].submit + 1),
             M.Span("s2", "b", "s1", 0.0, 0.0),
             M.Span("s9", "inner", "s1", jobs[0].submit - 0.5, jobs[-1].submit + 0.5)]
    by = M.attribute_jobs(log, spans)
    assert {j.job_id for j in by["s2"]} == {j.job_id for j in jobs if j.group == "s2"}
    # jobs with no matching group fall to the innermost span holding them
    ungrouped = {j.job_id for j in jobs if j.group not in ("s1", "s2")}
    assert {j.job_id for j in by["s9"]} == ungrouped
    assert sum(len(v) for v in by.values()) == len(jobs)


def test_attribute_jobs_by_streaming_batch_id():
    log = M.EventLog(jobs={
        1: M.Job(1, submit=5.0, group=None, batch_id=7, stage_ids=[]),  # submitted before its span began
        2: M.Job(2, submit=5.5, group=None, batch_id=None, stage_ids=[]),
    })
    t = M.Tracer()
    stream = M.Span("s0", "stream", None, 0.0, 20.0)
    t.spans = [stream]
    mb = t.add("micro_batch", stream, 6.0, 9.0, batch_id=7)
    assert (mb.span_id, mb.parent) == ("s1", "s0")
    by = M.attribute_jobs(log, t.spans)
    assert [j.job_id for j in by["s1"]] == [1]
    assert [j.job_id for j in by["s0"]] == [2]


def test_rolling_event_log_directory(tmp_path):
    lines = open(FIXTURE).read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    half = len(lines) // 2
    (d / "events_2_app").write_text("".join(lines[half:]))
    (d / "events_1_app").write_text("".join(lines[:half]))
    (d / "appstatus_app").write_text("")
    a, b = M.parse_event_log(FIXTURE), M.parse_event_log(str(d))
    assert a.jobs.keys() == b.jobs.keys()
    assert {k: v.tasks for k, v in a.stages.items()} == {k: v.tasks for k, v in b.stages.items()}


# --- FitCache builds -------------------------------------------------------------------

def test_fitcache_builds_counts_new_keys_only():
    before = {"a": {1, 2}, "b": set()}
    after = {"a": {2, 3, 4}, "b": {9}, "c": {7}}  # key 1 evicted, 3 and 4 added
    assert M.fitcache_builds(before, after) == 4


def test_cpu_times_count_this_process_and_host():
    a = M.cpu_times()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    b = M.cpu_times()
    assert b["tree_cpu_s"] - a["tree_cpu_s"] >= 0.2
    assert b["host_cpu_s"] - a["host_cpu_s"] >= b["tree_cpu_s"] - a["tree_cpu_s"] - 0.05
    assert 0 <= b["host_steal_s"] - a["host_steal_s"] <= b["host_cpu_s"] - a["host_cpu_s"]
