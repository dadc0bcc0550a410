"""Every ``tools/*.py`` script imports without side effects: no Spark
session, no written file. The scripts import engine names at module
level, so a renamed or deleted engine function fails here instead of
on the tool's next run."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TOOLS = sorted(str(p) for p in (REPO / "tools").glob("*.py"))

_PROBE = """
import importlib.util, sys
from pyspark import SparkContext
for path in sys.argv[1:]:
    name = "tool_" + path.rsplit("/", 1)[-1][:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._gateway is None, f"{path} started Spark at import"
"""


def _repo_files() -> dict[str, int]:
    return {
        str(p): p.stat().st_mtime_ns
        for p in REPO.rglob("*")
        if p.is_file() and ".git" not in p.parts and "__pycache__" not in p.parts
    }


def test_tools_import_without_side_effects(tmp_path):
    assert len(TOOLS) > 10
    cwd, tmp = tmp_path / "cwd", tmp_path / "tmp"
    cwd.mkdir()
    tmp.mkdir()
    env = {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": str(tmp),
    }
    before = _repo_files()
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *TOOLS],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert not any(cwd.iterdir()), sorted(os.listdir(cwd))
    assert not any(tmp.iterdir()), sorted(os.listdir(tmp))
    after = _repo_files()
    changed = sorted(p for p in after.keys() | before.keys() if before.get(p) != after.get(p))
    assert not changed, changed
