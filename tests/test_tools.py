"""Tools import the checkout they live in: a copied tool next to a copied
package imports that copy, so an A/B run of a parent checkout's tool
checks the parent's code."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = (
    "verify_local",
    "plan_audit",
    "engine_check_sf10",
    "sweep_sf10",
    "verify_fingerprint",
    "stress_pack_hier",
)


@pytest.mark.parametrize("tool", TOOLS)
def test_tool_imports_its_own_checkout(tmp_path, tool):
    copy = tmp_path / "checkout"
    shutil.copytree(
        ROOT / "curatorhadoopinterface_spark",
        copy / "curatorhadoopinterface_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (copy / "tools").mkdir()
    shutil.copy(ROOT / "tools" / f"{tool}.py", copy / "tools")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    # run the tool's module body (its path setup), not its main
    code = (
        "import runpy, sys; "
        f"runpy.run_path({str(copy / 'tools' / f'{tool}.py')!r}, run_name='tool'); "
        "import curatorhadoopinterface_spark as p; print(p.__file__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=elsewhere,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip().splitlines()[-1]
    assert Path(out).resolve().is_relative_to(copy.resolve())
