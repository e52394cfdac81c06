"""Machine-load accounting in bench.py (VERDICT r7 item 2).

Round 7's committed bench read as a +21.7% regression that judge re-timing
showed was mostly driver-box load. These tests pin the accounting that lets
the artifact self-annotate: /proc/stat parsing, external-CPU attribution
(system busy minus our own process tree), and the idle-verdict flag rule.
No Spark needed.
"""

import itertools
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    IDLE_EXT_SHARE_MAX,
    IDLE_IOWAIT_SHARE_MAX,
    IDLE_LOAD1_MAX,
    external_shares,
    idle_verdict,
    load_snapshot,
    parse_proc_stat,
    tree_pids,
)

# user nice system idle iowait irq softirq steal guest guest_nice
PROC_STAT = "cpu  100 0 50 800 40 5 5 0 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n"


def test_parse_proc_stat_buckets():
    s = parse_proc_stat(PROC_STAT)
    assert s["total"] == 1000.0
    assert s["iowait"] == 40.0
    # busy excludes idle AND iowait
    assert s["busy"] == 1000.0 - 800.0 - 40.0


def test_parse_proc_stat_short_line():
    # older kernels emit fewer fields; missing ones count as zero
    s = parse_proc_stat("cpu 10 0 10 80\n")
    assert s["total"] == 100.0 and s["busy"] == 20.0 and s["iowait"] == 0.0


def test_external_share_attributes_only_foreign_cpu():
    pre = {"busy": 100.0, "iowait": 0.0, "total": 1000.0, "tree": 50.0}
    # machine did 300 busy jiffies over a 1000-jiffy window; our tree did 250
    post = {"busy": 400.0, "iowait": 20.0, "total": 2000.0, "tree": 300.0}
    s = external_shares(pre, post)
    assert s["external_cpu_share"] == round(50.0 / 1000.0, 4)
    assert s["iowait_share"] == round(20.0 / 1000.0, 4)
    assert s["kernel_cpu_share"] == 0.0  # no kthread samples -> 0


def test_external_share_excludes_kernel_threads():
    # our JVM's persist churn drives kworker reclaim: kernel-thread CPU is
    # not foreign process load and must not trip the idle verdict (r9 —
    # idle probe windows were flagged ext 6-17% purely from kvfree_rcu)
    pre = {"busy": 0.0, "iowait": 0.0, "total": 0.0, "tree": 0.0, "kthread": 0.0}
    post = {"busy": 300.0, "iowait": 0.0, "total": 1000.0, "tree": 200.0, "kthread": 80.0}
    s = external_shares(pre, post)
    assert s["external_cpu_share"] == round(20.0 / 1000.0, 4)
    assert s["kernel_cpu_share"] == round(80.0 / 1000.0, 4)


def test_external_share_clamps_negative():
    # tree jiffies can slightly exceed system busy deltas (sampling skew);
    # never report a negative share
    pre = {"busy": 100.0, "iowait": 0.0, "total": 1000.0, "tree": 0.0}
    post = {"busy": 150.0, "iowait": 0.0, "total": 2000.0, "tree": 60.0}
    assert external_shares(pre, post)["external_cpu_share"] == 0.0


def test_external_share_zero_window():
    pre = post = {"busy": 1.0, "iowait": 0.0, "total": 1.0, "tree": 0.0}
    s = external_shares(pre, post)
    assert s == {"external_cpu_share": 0.0, "iowait_share": 0.0,
                 "kernel_cpu_share": 0.0, "steal_share": 0.0}


def test_idle_verdict_flag_rule():
    ok = {"external_cpu_share": 0.0, "iowait_share": 0.0}
    assert idle_verdict(0.2, ok) == (True, [])
    # each signal trips independently, at strictly-above threshold
    assert idle_verdict(IDLE_LOAD1_MAX, ok)[0] is True
    idle, why = idle_verdict(IDLE_LOAD1_MAX + 0.01, ok)
    assert not idle and "load1" in why[0]
    idle, why = idle_verdict(0.0, {"external_cpu_share": IDLE_EXT_SHARE_MAX + 0.001, "iowait_share": 0.0})
    assert not idle and "external" in why[0]
    idle, why = idle_verdict(0.0, {"external_cpu_share": 0.0, "iowait_share": IDLE_IOWAIT_SHARE_MAX + 0.001})
    assert not idle and "iowait" in why[0]
    # multiple reasons accumulate
    idle, why = idle_verdict(9.9, {"external_cpu_share": 0.5, "iowait_share": 0.5})
    assert not idle and len(why) == 3


def test_live_snapshot_shape():
    snap = load_snapshot()
    assert snap is not None  # linux container: /proc is there
    assert set(snap) == {"busy", "iowait", "total", "tree", "kthread", "steal"}
    assert snap["total"] > snap["busy"] >= 0


def test_descendant_pids_sees_child_process():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(20)"])
    try:
        time.sleep(0.2)
        pids = tree_pids(os.getpid())
        assert os.getpid() in pids
        assert child.pid in pids
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_grows_when_we_burn_cpu():
    pre = load_snapshot()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        sum(i * i for i in range(10000))
    post = load_snapshot()
    assert post["tree"] > pre["tree"]
    # and the burn is attributed to US, not to external load
    s = external_shares(pre, post)
    assert s["external_cpu_share"] < 0.9  # our own burn never reads as ~all-external


def test_tree_counts_reaped_children():
    """A short-lived child that burns CPU and exits inside the window must
    still be attributed to the tree (via the parent's cutime/cstime), not
    read as external load."""
    pre = load_snapshot()
    subprocess.run(
        [sys.executable, "-c",
         "t=0\nfor i in range(3_000_000): t += i*i"],
        check=True,
    )
    post = load_snapshot()
    # the child is dead at the post sample; its CPU must appear in tree
    assert post["tree"] > pre["tree"]


# --- opportunistic idle-window mode (round-10: VERDICT r9 item 4) -----------

from bench import wait_for_idle_window  # noqa: E402


def _fake_env(ext_shares, load1s):
    """Deterministic snapshot/loadavg/sleep/clock fakes: each poll window i
    reads external share ext_shares[i] (iowait 0, no kernel/tree activity)
    and loadavg load1s[i]. The clock advances only via sleep."""
    state = {"t": 0.0, "i": -1}

    def snapshot():
        # pre-snapshot of window i+1: advance the window index
        if state.get("phase", "pre") == "pre":
            state["i"] += 1
            state["phase"] = "post"
            return {"busy": 0.0, "iowait": 0.0, "total": 1000.0 * state["i"],
                    "tree": 0.0, "kthread": 0.0}
        state["phase"] = "pre"
        i = min(state["i"], len(ext_shares) - 1)
        base = 1000.0 * state["i"]
        return {"busy": 100.0 * ext_shares[i], "iowait": 0.0,
                "total": base + 100.0, "tree": 0.0, "kthread": 0.0}

    def loadavg():
        i = min(state["i"], len(load1s) - 1)
        return (load1s[i], 0.0, 0.0)

    def sleep(s):
        state["t"] += s

    def clock():
        return state["t"]

    return snapshot, loadavg, sleep, clock


def test_idle_wait_returns_on_first_quiet_window():
    snap, la, sl, ck = _fake_env([0.5, 0.3, 0.01], [0.2, 0.2, 0.2])
    w = wait_for_idle_window(600.0, poll_sec=15.0,
                             snapshot=snap, loadavg=la, sleep=sl, clock=ck)
    assert w["went_idle"] is True
    assert len(w["polls"]) == 3
    assert [p["idle"] for p in w["polls"]] == [False, False, True]
    assert w["waited_sec"] == 45.0


def test_idle_wait_budget_exhaustion_reports_not_idle():
    snap, la, sl, ck = _fake_env([0.5] * 10, [0.2] * 10)
    w = wait_for_idle_window(40.0, poll_sec=15.0,
                             snapshot=snap, loadavg=la, sleep=sl, clock=ck)
    assert w["went_idle"] is False
    assert w["waited_sec"] <= 40.0
    assert all(p["idle"] is False for p in w["polls"])


def test_idle_wait_rejects_high_load1():
    # shares quiet but loadavg high: the window is not idle
    snap, la, sl, ck = _fake_env([0.01, 0.01], [25.0, 25.0])
    w = wait_for_idle_window(20.0, poll_sec=15.0,
                             snapshot=snap, loadavg=la, sleep=sl, clock=ck)
    assert w["went_idle"] is False
    assert w["polls"][0]["load1"] == 25.0 and w["polls"][0]["idle"] is False


def test_idle_wait_vacuous_without_proc_stat():
    w = wait_for_idle_window(600.0, poll_sec=15.0, snapshot=lambda: None,
                             loadavg=lambda: (0.0,), sleep=lambda s: None,
                             clock=time.monotonic)
    assert w["went_idle"] is True and "note" in w


def test_idle_wait_poll_record_is_bounded():
    snap, la, sl, ck = _fake_env([0.5] * 100, [0.2] * 100)
    w = wait_for_idle_window(100 * 15.0 - 1, poll_sec=15.0,
                             snapshot=snap, loadavg=la, sleep=sl, clock=ck)
    assert len(w["polls"]) <= 40


def test_parse_proc_stat_reports_steal():
    # steal (field 8) must surface separately — it sits inside busy but
    # belongs to no local process
    s = parse_proc_stat("cpu 100 0 50 700 40 5 5 100 0 0\n")
    assert s["steal"] == 100.0
    assert s["busy"] == 1000.0 - 700.0 - 40.0  # steal still counted in busy


def test_external_share_splits_out_steal():
    # round 11: a probe window ran 8-20x slow while external CPU read only
    # 5-11% — hypervisor steal inflates walls without foreign processes.
    # Steal must not masquerade as external CPU AND must flag on its own.
    from bench import IDLE_STEAL_SHARE_MAX, idle_verdict

    pre = {"busy": 0.0, "iowait": 0.0, "total": 0.0, "tree": 0.0,
           "kthread": 0.0, "steal": 0.0}
    post = {"busy": 500.0, "iowait": 0.0, "total": 1000.0, "tree": 200.0,
            "kthread": 0.0, "steal": 250.0}
    s = external_shares(pre, post)
    assert s["steal_share"] == 0.25
    assert s["external_cpu_share"] == round(50.0 / 1000.0, 4)  # 500-200-250
    idle, why = idle_verdict(0.0, s)
    assert not idle and any("steal" in r for r in why)
    assert IDLE_STEAL_SHARE_MAX < 0.25


def test_probe_load_cell_annotates_steal():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from scale_probe import probe_load_cell

    quiet = {"external_cpu_share": 0.01, "iowait_share": 0.0, "steal_share": 0.01}
    assert probe_load_cell(quiet) == "idle"
    stolen = {"external_cpu_share": 0.02, "iowait_share": 0.0, "steal_share": 0.3}
    cell = probe_load_cell(stolen)
    assert "steal 30%" in cell


# --- per-query burst gate + first-sample record (round-12: VERDICT r11 #2/#3)

from bench import (  # noqa: E402
    IDLE_STEAL_SHARE_MAX,
    sample_query,
    sample_query_gated,
    window_flagged,
)


def _quiet_snapshot():
    # zero-delta snapshots: shares all read 0.0 (clean window)
    return {"busy": 0.0, "iowait": 0.0, "total": 1000.0, "tree": 0.0,
            "kthread": 0.0, "steal": 0.0}


def test_window_flagged_thresholds():
    assert window_flagged(None) == []
    assert window_flagged({"steal_share": 0.0, "external_cpu_share": 0.0}) == []
    assert window_flagged({"steal_share": IDLE_STEAL_SHARE_MAX}) == []
    flags = window_flagged({"steal_share": IDLE_STEAL_SHARE_MAX + 0.01})
    assert flags and "steal" in flags[0]
    flags = window_flagged({"external_cpu_share": IDLE_EXT_SHARE_MAX + 0.01})
    assert flags and "external" in flags[0]


def test_window_flagged_counts_iowait():
    # the docstring's "same thresholds as the whole-run gate": iowait too
    assert window_flagged({"iowait_share": IDLE_IOWAIT_SHARE_MAX}) == []
    flags = window_flagged({"iowait_share": IDLE_IOWAIT_SHARE_MAX + 0.01})
    assert flags and "iowait" in flags[0]


def test_sample_query_records_first_sample():
    # decreasing samples (warming caches): min is the last, first is sample 1
    seq = iter([3.0, 1.0, 0.5, 0.5])
    t, rec = sample_query(lambda: next(seq), snapshot=_quiet_snapshot,
                          loadavg=lambda: (0.0,))
    assert rec["first"] == 3.0
    assert t == 0.5
    assert rec["n"] == 4


def test_gated_clean_window_is_single_pass():
    seq = iter([1.0, 1.0])
    t, rec = sample_query_gated(lambda: next(seq), snapshot=_quiet_snapshot,
                                loadavg=lambda: (0.0,), max_resamples=2)
    assert t == 1.0 and rec["first"] == 1.0
    assert "flagged_and_kept" not in rec and "resamples" not in rec


def _bursty_then_quiet_snapshot(n_bursty_windows):
    """Snapshot factory: pass k's (pre, post) window shows a 10% steal burst
    for k < n_bursty_windows, clean afterwards. Pass k's window spans
    snapshot calls 2k -> 2k+1; cumulative steal jiffies rise by 100 across
    each bursty window (total rises 1000 per call, busy == tree so the
    external share stays zero)."""
    state = {"calls": 0}

    def snap():
        i = state["calls"]
        state["calls"] += 1
        steal = 100.0 * sum(
            1 for k in range(n_bursty_windows) if i >= 2 * k + 1)
        return {"busy": 500.0 * i, "iowait": 0.0, "total": 1000.0 * i,
                "tree": 500.0 * i, "kthread": 0.0, "steal": steal}

    return snap


def test_gated_resamples_on_steal_burst_and_ships_clean_pass():
    # pass 1 window: steal 20% (flagged); pass 2 window: clean
    times = iter([5.0, 5.0, 1.0, 1.0])
    t, rec = sample_query_gated(
        lambda: next(times), snapshot=_bursty_then_quiet_snapshot(1),
        loadavg=lambda: (0.0,), max_resamples=2)
    assert t == 1.0
    assert rec["resamples"] == 1
    assert rec["flagged_windows"] and "steal" in rec["flagged_windows"][0][0]
    assert "flagged_and_kept" not in rec
    assert rec["first"] == 5.0  # coldest sample of the attempt, pass 1


def test_gated_ships_faster_flagged_pass_marked():
    # pass 1 flagged but fastest, pass 2 clean but slower: load only
    # inflates wall time, so the flagged 1.0 is still a valid upper bound
    # and ships — marked, because the shipped pass was flagged
    times = iter([1.0, 1.0, 3.0, 3.0])
    t, rec = sample_query_gated(
        lambda: next(times), snapshot=_bursty_then_quiet_snapshot(1),
        loadavg=lambda: (0.0,), max_resamples=2)
    assert t == 1.0
    assert rec["flagged_and_kept"] is True
    assert rec["resamples"] == 1
    assert len(rec["flagged_windows"]) == 1


def test_gated_all_flagged_keeps_min_and_says_so():
    times = iter([5.0, 5.0, 3.0, 3.0, 4.0, 4.0])
    t, rec = sample_query_gated(
        lambda: next(times), snapshot=_bursty_then_quiet_snapshot(99),
        loadavg=lambda: (0.0,), max_resamples=2)
    assert t == 3.0  # fastest flagged pass: upper bound under load
    assert rec["flagged_and_kept"] is True
    assert rec["resamples"] == 2
    assert len(rec["flagged_windows"]) == 3


# --- one measurement core: time_noop, load_window, one threshold rule ------

from bench import load_window, time_noop  # noqa: E402


class _NoopWriter:
    """Stands in for a DataFrame: records the noop-sink write chain."""

    def __init__(self, calls):
        self.calls = calls

    @property
    def write(self):
        self.calls.append("write")
        return self

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def mode(self, mode):
        self.calls.append(("mode", mode))
        return self

    def save(self):
        self.calls.append("save")


def test_time_noop_builds_then_writes_noop_sink():
    calls = []

    def build(spark, sf_dir):
        calls.append(("build", spark, sf_dir))
        return _NoopWriter(calls)

    wall = time_noop(build, "SPARK", "/sf")
    assert calls == [("build", "SPARK", "/sf"), "write", ("format", "noop"),
                     ("mode", "overwrite"), "save"]
    assert wall >= 0.0


def test_time_noop_wall_includes_the_build():
    def slow_build(spark, sf_dir):
        time.sleep(0.05)
        return _NoopWriter([])

    assert time_noop(slow_build, None, "") >= 0.05


def test_load_window_gives_shares_of_injected_snapshots():
    pre = {"busy": 100.0, "iowait": 0.0, "total": 1000.0, "tree": 50.0,
           "kthread": 0.0, "steal": 0.0}
    post = {"busy": 400.0, "iowait": 20.0, "total": 2000.0, "tree": 300.0,
            "kthread": 0.0, "steal": 10.0}
    snaps = iter([pre, post])
    with load_window(lambda: next(snaps)) as shares:
        assert shares == {}  # filled only when the body exits
    assert shares == external_shares(pre, post)


def test_load_window_without_signal_stays_empty():
    with load_window(lambda: None) as shares:
        pass
    assert shares == {}
    assert window_flagged(shares) == []


_GRID = [0.0, IDLE_EXT_SHARE_MAX, IDLE_EXT_SHARE_MAX + 0.001, 0.5]


def test_one_threshold_rule_for_cells_verdicts_and_windows():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from scale_probe import probe_load_cell

    for ext, io, steal in itertools.product(_GRID, repeat=3):
        s = {"external_cpu_share": ext, "iowait_share": io,
             "kernel_cpu_share": 0.0, "steal_share": steal}
        flags = window_flagged(s)
        assert (probe_load_cell(s) == "idle") == (flags == []), s
        assert idle_verdict(0.0, s) == (flags == [], flags)
        idle, why = idle_verdict(IDLE_LOAD1_MAX + 0.01, s)
        assert not idle and why[1:] == flags
