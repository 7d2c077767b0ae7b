"""``tools/oracle_check.py`` end to end on three queries: its per-query
lines, its exit code and the registry-sweep record it writes per query."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from perfbench import eventlog
from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parent.parent
SWEEP = ROOT / ".perfbench_work" / "oracle_check" / "registry_sweep.json"
STATUS = {
    "op_project_alias": "matched",
    "text_token_count": "matched",
    "op_agg_approx_distinct_raw": "rows_only",  # no oracle_sql() entry
}


def test_oracle_check_writes_one_sweep_record_per_query(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "oracle_check.py"), SF_DIR, *STATUS],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "ok    op_project_alias: 150 rows" in proc.stdout
    assert "ok    text_token_count: 500 rows" in proc.stdout
    assert "rows  op_agg_approx_distinct_raw: 3 rows" in proc.stdout
    assert "\n0 failures" in proc.stdout

    sweep = json.loads(SWEEP.read_text())
    assert sweep["sf_dir"] == SF_DIR
    records = {r["query"]: r for r in sweep["queries"]}
    assert len(sweep["queries"]) == 3 and set(records) == set(STATUS)
    keys = {"query", "status", "rows", "build_s", "plan_s", "exec_s", "busy_gap_ms"}
    for name, rec in records.items():
        assert set(rec) == keys | set(eventlog.COUNTERS), name
        assert rec["status"] == STATUS[name]
        assert rec["rows"] > 0
        assert min(rec["build_s"], rec["plan_s"], rec["exec_s"]) >= 0
        # the noop pass's jobs are attributed to the query's job groups
        assert rec["jobs"] >= 1 and rec["tasks"] >= rec["stages"] >= 1, name
