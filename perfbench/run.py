"""Seeded closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload retail_pipeline --seed 1 --seconds 5 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``retail_pipeline``   the reference DAG over a seeded Online-Retail CSV,
                        gates included, then parquet writes of all models;
- ``warehouse_queries`` star-schema, window, SCD2 and TPC-H registry queries;
- ``curation_queries``  dedup, similarity, text and multimodal registry
                        queries.

One run generates the inputs from ``--seed`` (untimed), computes the
reference outputs in DuckDB (untimed), then, on ``local[<cores>]``:

1. sets up once, cold: ``get_spark`` launches the JVM, then the sources
   layer loads (``setup_s`` is the sum);
2. runs the first pass in the fresh session (``first_pass_s``);
3. runs warm passes for ``--seconds`` (at least one); ``wall_s`` is their
   median and ``peak_rss_mb`` the driver JVM's VmHWM over them;
4. with ``--trace 1``, runs traced passes for ``--seconds`` more, each
   followed by an untraced one, with job groups, an explicit planning step
   and cache accounting, and folds the uncompressed Spark event log into
   per-layer metrics. The event log is on for the whole traced run, so
   ``trace.overhead_s`` (traced pass minus its untraced neighbours) holds
   the tagging, planning and accounting cost but not the event log's;
5. checks every operation's output against DuckDB.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). All working files stay under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the engine and this package, when run as a script

from perfbench import eventlog  # noqa: E402

# The engine defaults to a 16g driver heap; on a shared 4-core box that let
# one retail run grow to 6 GB resident. 2g holds every workload here.
DRIVER_MEMORY = "2g"


def _reset_peak_rss(pid: int) -> None:
    """Reset the kernel's peak resident set (VmHWM) of ``pid`` to its
    current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _prepare_env(work: str) -> None:
    """Point every temporary path at ``work`` and size the local session;
    must run before pyspark launches the JVM."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_SF_DIR=os.path.join(work, "inputs"),
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the engine whatever the launch directory.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            # Spark 4.1 compresses with zstd by default; keep it readable.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return conf


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end_metrics(setup, first, warm, peak_rss_kb) -> dict[str, float]:
    """The untraced run's metrics from its set-up times, its first pass,
    its warm passes and the JVM's peak resident set."""
    return {
        "setup_s": sum(setup),
        "first_pass_s": first.wall_s,
        "wall_s": statistics.median(r.wall_s for r in warm),
        "peak_rss_mb": peak_rss_kb / 1024.0,
    }


def per_layer_metrics(setup, traced, groups, input_stats) -> dict[str, float]:
    """The traced run's metrics: the median over traced passes of each
    per-pass total, plus set-up, tracing overhead and input size.
    ``traced`` holds (record, pass number, overhead seconds) per pass."""
    per_pass = [_pass_layers(rec, pass_no, groups) for rec, pass_no, _ in traced]
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    metrics.update({
        "session.get_spark_s": setup[0],
        "sources.load_tables_s": setup[1],
        "trace.overhead_s": statistics.median(o for _, _, o in traced),
        "inputs.rows": input_stats[0],
        "inputs.bytes": input_stats[1],
    })
    return metrics


def _pass_layers(rec, pass_no: int, groups) -> dict[str, float]:
    """Per-pass totals of the span and event-log metrics for one traced pass."""
    out = {
        "plans.build_s": 0.0,
        "plans.plan_s": 0.0,
        "quality.gate_s": 0.0,
        "pipeline.stage_run_s": 0.0,
        "pipeline.write_s": 0.0,
        "operators.release_s": 0.0,
    }
    layer_key = {
        "plans.build": "plans.build_s",
        "plans.plan": "plans.plan_s",
        "quality.gate": "quality.gate_s",
        "pipeline.stage_run": "pipeline.stage_run_s",
        "pipeline.write": "pipeline.write_s",
        "operators.release": "operators.release_s",
    }
    for span in rec.spans:
        if span.layer in layer_key:
            out[layer_key[span.layer]] += span.end - span.start
    mine = {g: st for g, st in groups.items() if g.split("#")[1:2] == [str(pass_no)]}

    def phase(name):
        return eventlog.merge(st for g, st in mine.items() if g.endswith("#" + name))

    total = eventlog.merge(mine.values())
    gate_jobs = phase("gate").jobs
    checks = rec.counts.get("quality.checks", 0)
    out.update({
        "quality.checks": checks,
        "quality.jobs": gate_jobs,
        "quality.checks_per_job": checks / gate_jobs if gate_jobs else 0.0,
        "pipeline.write_jobs": phase("write").jobs,
        "plans.build_jobs": phase("build").jobs,
        "plans.exchanges": rec.counts.get("plans.exchanges", 0),
        "spark.exec_s": eventlog.covered_ms(total.job_spans) / 1000.0,
        "spark.sched_gap_ms": eventlog.busy_gap_ms(total),
        "operators.persisted_after": rec.counts.get("operators.persisted_after", 0),
        "operators.cached_bytes_peak": rec.counts.get("operators.cached_bytes_peak", 0),
    })
    for name in eventlog.COUNTERS:
        out[f"spark.{name}"] = getattr(total, name)
    return out


UNITS = {
    "setup_s": "s", "first_pass_s": "s", "wall_s": "s", "peak_rss_mb": "MB",
    "session.get_spark_s": "s", "sources.load_tables_s": "s",
    "quality.gate_s": "s", "quality.checks": "count", "quality.jobs": "count",
    "quality.checks_per_job": "ratio", "pipeline.stage_run_s": "s",
    "pipeline.write_s": "s", "pipeline.write_jobs": "count", "plans.build_s": "s",
    "plans.build_jobs": "count", "plans.plan_s": "s", "plans.exchanges": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.sched_gap_ms": "ms", "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "operators.release_s": "s",
    "operators.persisted_after": "count", "operators.cached_bytes_peak": "bytes",
    "trace.overhead_s": "s", "inputs.rows": "count", "inputs.bytes": "bytes",
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    from perfbench import inputs
    from perfbench.workloads import WORKLOADS, PassRecord

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    data_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    trace = bool(args.trace)
    spark_conf = _spark_conf(work, trace)
    wl = WORKLOADS[args.workload](
        data_dir, work, os.path.join(ROOT, ".perfbench_work", "oracle_cache"), spark_conf
    )
    stamps = [("start", time.perf_counter())]
    wl.write_inputs(args.seed)
    in_rows, in_bytes = inputs.file_stats(wl.input_files())
    stamps.append(("inputs", time.perf_counter()))
    expected = wl.expected()
    stamps.append(("oracle", time.perf_counter()))

    session, *setup = wl.setup(traced=False)
    stamps.append(("setup", time.perf_counter()))
    records = [wl.run_pass(session, 0, collect=True)]
    stamps.append(("first", time.perf_counter()))
    warm: list[PassRecord] = []
    jvm_pid = session.jvm_pid()
    _reset_peak_rss(jvm_pid)
    deadline = time.perf_counter() + args.seconds
    while not warm or time.perf_counter() < deadline:
        warm.append(wl.run_pass(session, len(records) + len(warm)))
    peak_rss_kb = _peak_rss_kb(jvm_pid)
    records += warm
    stamps.append(("warm", time.perf_counter()))
    traced = []
    if trace:
        # Each traced pass runs between two untraced ones; its overhead is
        # its wall time minus theirs averaged, so JIT warm-up cancels out.
        before = warm[-1]
        deadline = time.perf_counter() + args.seconds
        while not traced or time.perf_counter() < deadline:
            pass_no = len(records)
            session.traced = True
            rec = wl.run_pass(session, pass_no)
            session.traced = False
            after = wl.run_pass(session, pass_no + 1)
            records += [rec, after]
            traced.append((rec, pass_no, rec.wall_s - (before.wall_s + after.wall_s) / 2))
            before = after
        stamps.append(("traced", time.perf_counter()))
    wl.check(expected, records)
    stamps.append(("check", time.perf_counter()))
    session.spark.stop()
    _shutdown_jvm()
    stamps.append(("stop", time.perf_counter()))

    attempted = sum(r.attempted for r in records)
    failed = sum(r.failed for r in records)
    if trace:
        groups = eventlog.read_logs(sorted(glob.glob(os.path.join(work, "eventlog", "local-*"))))
        metrics = per_layer_metrics(setup, traced, groups, (in_rows, in_bytes))
    else:
        metrics = end_to_end_metrics(setup, records[0], warm, peak_rss_kb)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {UNITS[name]}")
    print(
        f"{args.workload} failed_frac = {failed / attempted:.6g} "
        f"({failed} of {attempted} operations); inputs {in_rows} rows, {in_bytes} bytes; "
        f"{len(warm)} warm and {len(traced)} traced passes"
    )
    print(f"{args.workload} run phases: " + ", ".join(
        f"{name} {end - start:.1f} s" for (_, start), (name, end) in zip(stamps, stamps[1:])
    ))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
