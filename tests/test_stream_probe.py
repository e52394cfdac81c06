"""Smoke test of tools/stream_scale_probe.py: every probe runs its st_*
operator through the spool-and-drain helper, reports a positive wall and a
non-negative state size, and leaves no spool dir behind."""

from __future__ import annotations

import glob
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from stream_scale_probe import PROBES  # noqa: E402


@pytest.mark.parametrize("name", list(PROBES))
def test_probe_runs_and_cleans_up(spark, sf_dir, tmp_path, monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    wall, state = PROBES[name](spark, sf_dir, 2)
    assert wall > 0
    assert state >= 0
    assert glob.glob(str(tmp_path / "dhe_sprobe_*")) == []
