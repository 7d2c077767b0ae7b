"""r11 guard-path pins (ADVICE r10): the shared drain helper, the
package's environment surface and the tools' independence from where the
repo is checked out. No SparkSession needed."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import data_pipeline_4_online_retail_spark as pkg
from data_pipeline_4_online_retail_spark.session import drain_retained


def test_package_reads_only_the_three_documented_env_names():
    """The engine package reads exactly these three environment names
    (README's env table lists them with the bench/tool-only ones). A new
    knob must be added here on purpose; a value nothing sets stays a
    constant."""
    names = set()
    for path in Path(pkg.__file__).parent.rglob("*.py"):
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text()))
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_SF_DIR",
    }


def test_tools_locate_the_repo_from_their_own_file():
    """No ``tools/*.py`` or ``tests/*.py`` names a checkout of this repo
    by absolute path: run from a copy, such a file would import the
    engine from the other checkout (and a tool write its artifacts
    there). Both derive the repo root from ``__file__`` instead."""
    root = Path(__file__).resolve().parent.parent
    offenders = {}
    for path in sorted([*root.glob("tools/*.py"), *root.glob("tests/*.py")]):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            # a path, not SQL or prose that happens to start with "/"
            if not node.value.startswith("/") or any(c.isspace() for c in node.value):
                continue
            named = Path(node.value)
            dirs = (named, *named.parents)
            if any((d / "__spark_entry__.py").exists() for d in dirs):
                offenders.setdefault(str(path.relative_to(root)), []).append(node.value)
    assert not offenders, offenders


class _RaisingHandle:
    def __init__(self, log):
        self._log = log

    def unpersist(self):
        self._log.append("raised")
        raise RuntimeError("stale handle")


class _GoodHandle:
    def __init__(self, log):
        self._log = log

    def unpersist(self):
        self._log.append("ok")


def test_drain_retained_survives_raising_handles():
    """Every handle is popped and unpersist attempted even when earlier
    handles raise (the stopped-context NPE class) — the list ends empty
    and later handles still release."""
    calls: list[str] = []
    retained = [_GoodHandle(calls), _RaisingHandle(calls), _GoodHandle(calls)]
    drain_retained(retained)
    assert retained == []
    assert sorted(calls) == ["ok", "ok", "raised"]
