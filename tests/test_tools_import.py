"""Every `tools/*.py` script imports from any working directory: each
puts the repo root, not the cwd, on `sys.path`.  One fresh interpreter
per tool, started outside the repo, loads the script by path (its
`__main__` block does not run)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))

# the path goes into the source, not argv: some tools read argv at import
LOAD = """import importlib.util
spec = importlib.util.spec_from_file_location("tool_under_test", {path!r})
spec.loader.exec_module(importlib.util.module_from_spec(spec))
"""


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_from_a_foreign_cwd(tmp_path, path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", LOAD.format(path=path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
