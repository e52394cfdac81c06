"""Fail-safe contract of tools/scale_probe.py's table regeneration.

Round-6 postmortem: a crashed sf1 probe re-run overwrote 34 healthy measured
SCALING.md rows with PROBE-ERROR rows, and the snapshot commit shipped the
vandalized table. These tests pin the merge invariant — an errored probe can
NEVER replace a previously good row — without needing Spark.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from scale_probe import DEEP_HEADER, DEEP_TABLE_HEAD, merge_deep_row, parse_deep_rows

GOOD_ROW = "| graph_pagerank | 1.75s | 3.18s | 11.83s | 0.57 | linear-or-better | idle |"
# pre-load-column format (older committed SCALING.md files): one cell fewer
OLD_FORMAT_ROW = "| text_bpe_train | 1.12s | 1.92s | 10.90s | 0.75 | linear-or-better |"

SAMPLE_MD = f"""# SCALING — measured wall time vs data volume

| query | t@sf0.001 | t@sf0.01 | t@sf0.1 | slope | verdict |
|---|---|---|---|---|---|
| q1_pricing_summary | 0.61s | 0.61s | 1.53s | 0.40 | linear-or-better |

{DEEP_HEADER}

prose about sf1.

{DEEP_TABLE_HEAD}
|---|---|---|---|---|---|
{GOOD_ROW}
{OLD_FORMAT_ROW}
| dq_reconcile_orders | - | - | - | - | PROBE-ERROR: [Errno 111] Connection refused |

`dedup_prefix_join` cold/warm split at sf1: first call 90.7s, warm 7.0s.

<!-- STREAM-SCALE:BEGIN -->
## Streaming scale
<!-- STREAM-SCALE:END -->
"""


def test_parse_extracts_good_rows_only():
    rows = parse_deep_rows(SAMPLE_MD)
    assert rows["graph_pagerank"] == GOOD_ROW
    assert "text_bpe_train" in rows
    # PROBE-ERROR rows are never worth carrying
    assert "dq_reconcile_orders" not in rows
    # first-decade rows are not part of the deep table
    assert "q1_pricing_summary" not in rows


def test_parse_stops_at_table_end():
    rows = parse_deep_rows(SAMPLE_MD)
    assert len(rows) == 2  # the cold/warm prose and stream block don't leak in


def test_parse_missing_section_is_empty():
    assert parse_deep_rows("# SCALING\nno deep table here\n") == {}


def test_error_never_overwrites_good_row():
    prev = parse_deep_rows(SAMPLE_MD)
    row = merge_deep_row("graph_pagerank", None, "Connection refused", prev, "2026-08-15")
    assert row.startswith(GOOD_ROW)  # measurement preserved verbatim
    assert "carried" in row and "2026-08-15" in row  # stamped with failed-attempt date
    assert "PROBE-ERROR" not in row.split("<!--")[0]


def test_error_without_prior_row_is_probe_error():
    row = merge_deep_row("brand_new_query", None, "boom", {}, "2026-08-15")
    assert "PROBE-ERROR: boom" in row


def test_fresh_measurement_wins():
    prev = parse_deep_rows(SAMPLE_MD)
    fresh = "| graph_pagerank | 1.70s | 3.00s | 11.00s | 0.56 | linear-or-better |"
    assert merge_deep_row("graph_pagerank", fresh, None, prev, "2026-08-15") == fresh


def test_deep_only_skip_carries_verbatim():
    prev = parse_deep_rows(SAMPLE_MD)
    # err is None -> a --deep-only skip, not a failure: no annotation
    assert merge_deep_row("graph_pagerank", None, None, prev, "2026-08-15") == GOOD_ROW


def test_carried_annotation_roundtrips_through_parse():
    # A carried row written to SCALING.md must parse back as a good row on
    # the NEXT regeneration (the comment suffix must not break the name match
    # or be mistaken for PROBE-ERROR).
    prev = parse_deep_rows(SAMPLE_MD)
    carried = merge_deep_row("graph_pagerank", None, "err", prev, "2026-08-15")
    md = f"{DEEP_HEADER}\n\n{DEEP_TABLE_HEAD}\n|---|---|---|---|---|---|\n{carried}\n"
    rows2 = parse_deep_rows(md)
    assert "graph_pagerank" in rows2
    assert rows2["graph_pagerank"].startswith(GOOD_ROW)


def test_purge_package_caches_clears_cache_dicts(monkeypatch):
    """Recycling must drop per-application cache entries (they pin py4j
    references of dead SparkContexts): the package's one dataset cache is
    emptied, without unpersisting handles of the dead session. A stand-in
    cache keeps the suite's live entries out of the purge."""
    from drive_health_etl_spark.operators import fitcache

    class DeadHandle:
        def unpersist(self):
            raise AssertionError("recycle must not unpersist")

    monkeypatch.setattr(fitcache, "_CACHE", fitcache.FitCache())
    fitcache._CACHE.get_or_build(("app", "sf", "sentinel"), DeadHandle)
    fitcache._CACHE.get_or_build(("app", "sf", "vocab_size"), lambda: 7)
    fitcache.clear()
    assert fitcache._CACHE == {}


def test_deep_only_names_are_validated():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/scale_probe.py", "--deep-only", "not_a_query"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert r.returncode != 0
    assert "not_a_query" in (r.stdout + r.stderr)


def test_all_deep_probes_resolve():
    """Every DEEP_PROBES/PROBES name must resolve to a probe-able callable
    — a rename in the registry must fail here, not 30 minutes into a probe
    run."""
    import scale_probe as sp

    for name in set(sp.PROBES) | set(sp.DEEP_PROBES):
        assert callable(sp._probe_fn(name)), name


def test_error_text_is_sanitized_for_markdown():
    """Spark/py4j exception strings contain newlines and '|' within the
    first 60 chars; embedding them raw breaks the table row and leaves the
    carried comment unterminated (ADVICE r7)."""
    prev = parse_deep_rows(SAMPLE_MD)
    nasty = "An error occurred\nwhile calling o123.save:\n| Py4JJavaError --> x"
    carried = merge_deep_row("graph_pagerank", None, nasty, prev, "2026-08-15")
    assert "\n" not in carried
    assert carried.count("|") == GOOD_ROW.count("|")  # no phantom cells
    assert carried.count("-->") == 1  # comment terminates exactly once
    # and the carried row must survive a reparse as a single good row
    md = f"{DEEP_HEADER}\n\n{DEEP_TABLE_HEAD}\n|---|---|---|---|---|---|\n{carried}\n"
    assert parse_deep_rows(md)["graph_pagerank"].startswith(GOOD_ROW)
    # PROBE-ERROR cells get the same treatment
    err_row = merge_deep_row("brand_new_query", None, nasty, {}, "2026-08-15")
    assert "\n" not in err_row and err_row.count("|") == 8


def test_carried_annotations_do_not_accumulate():
    """Consecutive failed runs must REPLACE the carried annotation, not
    append a second one (ADVICE r7: unbounded row growth)."""
    prev = parse_deep_rows(SAMPLE_MD)
    once = merge_deep_row("graph_pagerank", None, "err one", prev, "2026-08-14")
    md = f"{DEEP_HEADER}\n\n{DEEP_TABLE_HEAD}\n|---|---|---|---|---|---|\n{once}\n"
    twice = merge_deep_row("graph_pagerank", None, "err two", parse_deep_rows(md), "2026-08-15")
    assert twice.count("<!--") == 1
    assert "err two" in twice and "err one" not in twice
    assert twice.startswith(GOOD_ROW)


def test_deep_only_aborts_without_sf1_dir(tmp_path, monkeypatch):
    """--deep-only with .scale/sf1 absent must exit BEFORE writing: its whole
    purpose is regenerating deep rows, and writing without them would delete
    the committed deep table (ADVICE r7 — same vandalism class as round 6)."""
    import pytest
    import scale_probe as sp

    monkeypatch.setattr(sp, "SF1_DIR", str(tmp_path / "definitely-missing"))
    monkeypatch.setattr(sys, "argv", ["scale_probe.py", "--deep-only", "graph_pagerank"])
    with pytest.raises(SystemExit) as ei:
        sp.main()
    assert "aborting WITHOUT writing" in str(ei.value)


def test_healthy_times_out_on_wedged_session():
    """A wedged-but-alive JVM (hung count()) must read as unhealthy after
    the watchdog timeout instead of hanging the regeneration (ADVICE r7)."""
    import threading
    from scale_probe import _healthy

    class WedgedRange:
        def count(self):
            threading.Event().wait(10)  # hangs far past the probe timeout

    class WedgedSpark:
        def range(self, n):
            return WedgedRange()

    import time as _t
    t0 = _t.perf_counter()
    assert _healthy(WedgedSpark(), timeout_s=0.2) is False
    assert _t.perf_counter() - t0 < 5


def test_healthy_true_on_live_session_stub():
    class OkRange:
        def count(self):
            return 1

    class OkSpark:
        def range(self, n):
            return OkRange()

    from scale_probe import _healthy

    assert _healthy(OkSpark(), timeout_s=5) is True


# --- per-row load annotation (VERDICT r8 item 2) -----------------------------

from scale_probe import pad_row_cells, probe_load_cell  # noqa: E402


def test_probe_load_cell_idle_and_loaded():
    assert probe_load_cell(None) == "-"
    assert probe_load_cell({"external_cpu_share": 0.0, "iowait_share": 0.0}) == "idle"
    assert probe_load_cell({"external_cpu_share": 0.05, "iowait_share": 0.05}) == "idle"
    cell = probe_load_cell({"external_cpu_share": 0.31, "iowait_share": 0.0})
    assert cell == "ext 31%, io 0%"
    assert probe_load_cell({"external_cpu_share": 0.0, "iowait_share": 0.2}).endswith("io 20%")


def test_pad_row_cells_pads_old_format_and_keeps_comment():
    padded = pad_row_cells(OLD_FORMAT_ROW)
    assert padded == OLD_FORMAT_ROW + " - |"
    assert padded.count("|") == GOOD_ROW.count("|")
    # current-format rows pass through untouched
    assert pad_row_cells(GOOD_ROW) == GOOD_ROW
    # comments survive padding
    with_comment = OLD_FORMAT_ROW + " <!-- carried: x -->"
    out = pad_row_cells(with_comment)
    assert out.startswith(OLD_FORMAT_ROW + " - |") and out.endswith("<!-- carried: x -->")


def test_old_format_row_padded_on_carry_paths():
    prev = parse_deep_rows(SAMPLE_MD)
    # --deep-only skip carry
    skipped = merge_deep_row("text_bpe_train", None, None, prev, "2026-08-16")
    assert skipped.count("|") == GOOD_ROW.count("|")
    assert skipped.startswith(OLD_FORMAT_ROW)
    # error carry
    carried = merge_deep_row("text_bpe_train", None, "boom", prev, "2026-08-16")
    assert carried.split("<!--")[0].rstrip().count("|") == GOOD_ROW.count("|")
    assert "carried" in carried
