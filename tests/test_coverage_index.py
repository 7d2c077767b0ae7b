"""COVERAGE_INDEX.md is generated from the registry; the committed copy
must be what the generator renders today (order, window marks, tags and
docs). Regenerate with ``python tools/make_coverage_index.py``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_committed_coverage_index_matches_registry():
    # A fresh interpreter: where the driver order ties, the registry
    # keeps module import order, which the operator imports of other
    # test modules would change in this process.
    rendered = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from tools.make_coverage_index import render; "
            "sys.stdout.write(render())",
        ],
        cwd=ROOT,
        env={**os.environ, "PYTHONIOENCODING": "utf-8"},
        capture_output=True,
        encoding="utf-8",
        check=True,
    ).stdout
    assert rendered == (ROOT / "COVERAGE_INDEX.md").read_text(encoding="utf-8")
