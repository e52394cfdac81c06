"""The tools under `tools/`: every module imports cleanly, and ab_probe
refuses an A/B that would not be neutral."""

from __future__ import annotations

import glob
import importlib
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")


@pytest.mark.parametrize(
    "name", sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS, "*.py")))
)
def test_tool_imports(name, monkeypatch):
    # each tool runs its work under a `__main__` guard, so importing runs
    # nothing, but a name it imports from bench.py or the package that no
    # longer exists fails here
    monkeypatch.syspath_prepend(TOOLS)
    importlib.import_module(name)


@pytest.mark.parametrize(
    "args, message",
    [([], "--ref <commit>"), (["--ref", "no-such-ref"], "drive_health_etl_spark/session.py")],
)
def test_ab_probe_needs_a_ref_with_the_same_session(args, message):
    r = subprocess.run([sys.executable, "tools/ab_probe.py", *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert message in r.stderr
