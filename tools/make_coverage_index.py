"""Generate COVERAGE_INDEX.md: the complete, mechanical inventory of
every registered query — name, oracle class, tags, and the operator's
own doc line — so coverage claims are diffable against the registry
itself rather than hand-maintained prose (COVERAGE.md stays the
narrative changelog; this file is the exhaustive index).

Usage: python tools/make_coverage_index.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
INDEX = ROOT / "COVERAGE_INDEX.md"
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry  # noqa: E402  (populates the registry)
from data_pipeline_4_online_retail_spark.plans.registry import (  # noqa: E402
    REGISTRY,
)


def render() -> str:
    """The index text for the registry as imported."""
    names = list(entry.queries())
    window = set(names[: entry.DRIVER_WINDOW])
    n_oracled = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    n_verif = sum(1 for q in REGISTRY.values() if "verification" in q.tags)
    lines = [
        "# COVERAGE_INDEX — the full query registry (generated)",
        "",
        f"Generated by `tools/make_coverage_index.py`. **{len(names)}"
        f" queries, {n_oracled} DuckDB-oracled, "
        f"{len(names) - n_oracled} rows-only (each replica/bound-tested "
        f"in pytest).** First {entry.DRIVER_WINDOW} = the driver "
        "correctness window (`[W]`). Docs are the operators' own docstrings. Tier "
        f"`verification` ({n_verif} queries) marks exactness twins "
        "(all-pairs / md5 / uncapped forms kept as the oracle-exact "
        "baseline of a registered production path) — bulk scale "
        "tooling skips them unless asked (tools/scale_probe.py).",
        "",
        "| # | query | oracle | tier | tags | doc |",
        "|---|---|---|---|---|---|",
    ]
    for i, name in enumerate(names, 1):
        q = REGISTRY[name]
        oracle = "sql" if q.oracle is not None else "rows-only"
        tags = ",".join(q.tags)
        tier = "verification" if "verification" in q.tags else "production"
        doc = " ".join((q.doc or "").split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        w = " [W]" if name in window else ""
        doc = doc.replace("|", "\\|")
        lines.append(
            f"| {i} | `{name}`{w} | {oracle} | {tier} | {tags} | {doc} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    INDEX.write_text(render(), encoding="utf-8")
    print(f"wrote {INDEX.name} ({len(REGISTRY)} rows)")


if __name__ == "__main__":
    main()
