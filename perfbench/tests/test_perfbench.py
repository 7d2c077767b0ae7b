"""Tests of the benchmark itself: seeded inputs, the event-log fold, the
output checks and the metric names the command emits.

    python -m pytest perfbench/tests -q

``test_command_emits_every_name`` runs the real command once per workload
and trace mode, which takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, eventlog, inputs, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


# ---------------------------------------------------------------------------
# Seeded inputs
# ---------------------------------------------------------------------------


def test_retail_csv_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    inputs.write_retail_csv(a, 7)
    inputs.write_retail_csv(b, 7)
    inputs.write_retail_csv(c, 8)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)


def test_retail_csv_keeps_the_raw_file_quirks(tmp_path):
    path = str(tmp_path / "r.csv")
    inputs.write_retail_csv(path, 3, n_rows=5000)
    text = _read(path).decode("iso-8859-1")
    rows = [line.split(",") for line in text.splitlines()[1:]]
    assert len(rows) == 5000
    assert "\xc9" in text  # latin-1 description text
    cancelled = [r for r in rows if r[0].startswith("C")]
    assert cancelled and all(int(r[3]) < 0 for r in cancelled)
    null_customer = sum(1 for r in rows if r[6] == "") / len(rows)
    assert 0.15 < null_customer < 0.35
    # unpadded 24-hour dates, and some invoices whose lines disagree
    assert all(":" in r[4] and "M" not in r[4] for r in rows)
    dates: dict[str, set] = {}
    for r in rows:
        dates.setdefault(r[0], set()).add(r[4])
    assert any(len(d) > 1 for d in dates.values())


def test_tables_same_seed_same_bytes_seed_changes_only_row_order(tmp_path):
    import pyarrow.parquet as pq

    names = ["customer", "documents", "embeddings"]
    dirs = [str(tmp_path / d) for d in ("a", "b", "c")]
    digests = [inputs.write_tables(d, names, s) for d, s in zip(dirs, (5, 5, 6))]
    assert len(set(digests)) == 1
    for name in names:
        a, b, c = (os.path.join(d, f"{name}.parquet") for d in dirs)
        assert _read(a) == _read(b)
        assert _read(a) != _read(c)
        ta, tc = pq.read_table(a), pq.read_table(c)
        assert ta.schema == tc.schema
        assert pq.ParquetFile(a).metadata.num_row_groups == 1
        assert ta.num_rows == inputs.TABLE_ROWS[name]
        key = ta.column_names[0]
        assert ta.sort_by(key).equals(tc.sort_by(key))


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q#1#exec"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": 1010, "Finish Time": 1050},
     "Task Metrics": {"Executor Run Time": 35, "Executor CPU Time": 20_000_000,
                      "JVM GC Time": 3,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 500},
                      "Input Metrics": {"Bytes Read": 4000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": 1020, "Finish Time": 1060},
     "Task Metrics": {"Executor Run Time": 38, "Executor CPU Time": 30_000_000,
                      "JVM GC Time": 0, "Disk Bytes Spilled": 64,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 300}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 1080, "Finish Time": 1090},
     "Task Metrics": {"Executor Run Time": 9, "Executor CPU Time": 5_000_000,
                      "Shuffle Read Metrics": {"Remote Bytes Read": 100,
                                               "Local Bytes Read": 700}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
    # a job outside any group is ignored
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Info": {"Launch Time": 1201, "Finish Time": 1299},
     "Task Metrics": {"Executor Run Time": 98}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1400,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "q#1#build"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
     "Task Info": {"Launch Time": 1405, "Finish Time": 1415},
     "Task Metrics": {"Executor Run Time": 10}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1420},
]


def test_fold_sums_per_job_group():
    groups = eventlog.fold(json.dumps(e) for e in CANNED_LOG)
    assert set(groups) == {"q#1#exec", "q#1#build"}
    g = groups["q#1#exec"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 3)
    assert g.task_run_ms == 82
    assert g.task_cpu_ms == pytest.approx(55.0)
    assert g.gc_ms == 3
    assert g.shuffle_write_bytes == 800
    assert g.shuffle_read_bytes == 800
    assert g.spill_bytes == 64
    assert g.input_bytes == 4000
    # job runs 1000-1100; tasks cover 1010-1060 and 1080-1090
    assert eventlog.covered_ms(g.job_spans) == 100
    assert eventlog.covered_ms(g.task_spans) == 60
    assert eventlog.busy_gap_ms(g) == 40
    total = eventlog.merge(groups.values())
    assert (total.jobs, total.tasks, total.task_run_ms) == (2, 4, 92)


def test_covered_ms_merges_overlaps():
    assert eventlog.covered_ms([]) == 0
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)]) == 30


def test_fold_of_canned_log_feeds_every_layer_metric():
    from perfbench.workloads import PassRecord, Span

    groups = eventlog.fold(json.dumps(e) for e in CANNED_LOG)
    rec = PassRecord(wall_s=2.0)
    rec.spans = [Span("q#1#build", "plans.build", 0.0, 0.5),
                 Span("q#1#exec", "spark.exec", 0.5, 1.5)]
    rec.count("plans.exchanges", 3)
    layers = run._pass_layers(rec, 1, groups)
    assert layers["plans.build_s"] == pytest.approx(0.5)
    assert layers["plans.build_jobs"] == 1
    assert layers["plans.exchanges"] == 3
    assert layers["spark.jobs"] == 2
    assert layers["spark.exec_s"] == pytest.approx(0.12)
    assert layers["spark.sched_gap_ms"] == 50
    assert run._pass_layers(rec, 2, groups)["spark.jobs"] == 0


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def test_compare_is_order_insensitive_and_catches_a_wrong_value():
    want = checks.canon_rows([(1, 2.5), (2, None)], ["a", "b"])
    assert checks.compare(["b", "a"], [(None, 2), (2.5000000001, 1)], ["a", "b"], want) is None
    assert checks.compare(["a", "b"], [(1, 2.5), (2, 0.0)], ["a", "b"], want)
    assert checks.compare(["a", "b"], [(1, 2.5)], ["a", "b"], want)


def test_top10_report_accepts_either_tie_at_the_cut(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["product_key", "stock_code", "description", "total_quantity_sold"]
    ranked = [(f"k{i}", f"s{i}", "d", 100 - i) for i in range(9)]
    ranked += [("k9", "s9", "d", 50), ("k10", "s10", "d", 50), ("k11", "s11", "d", 1)]
    out = tmp_path / "report_product_invoices"
    out.mkdir()

    def write(rows):
        pq.write_table(pa.table(dict(zip(cols, map(list, zip(*rows))))), out / "part-0.parquet")

    write(ranked[:9] + [ranked[10]])
    assert checks.check_report(str(tmp_path), "report_product_invoices", (cols, ranked)) is None
    write(ranked[:9] + [ranked[11]])
    assert checks.check_report(str(tmp_path), "report_product_invoices", (cols, ranked))


def test_an_operation_fails_once_however_many_steps_fail():
    from perfbench.workloads import PassRecord

    rec = PassRecord(attempted=2)
    rec.fail("q1", "q1 build")
    rec.fail("q1", "q1 dedup.release_caches")
    rec.fail("q1", "q1 wrong result")
    assert rec.failed == 1
    rec.fail("q2", "q2 graph.release_caches")
    assert rec.failed == 2


# ---------------------------------------------------------------------------
# Metric and workload names
# ---------------------------------------------------------------------------


def test_metric_functions_produce_exactly_the_declared_names():
    from perfbench.workloads import PassRecord

    groups = eventlog.fold(json.dumps(e) for e in CANNED_LOG)
    rec = PassRecord(wall_s=1.0)
    e2e = run.end_to_end_metrics((1.0, 0.5), rec, [rec], 2048)
    layers = run.per_layer_metrics((1.0, 0.5), [(rec, 1, 0.25)], groups, (10, 100))
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    assert sorted(layers) == sorted(m["name"] for m in SPEC["per_layer"])
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert run.UNITS[m["name"]] == m["unit"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_command_emits_every_name(workload, trace):
    proc = subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
