"""The three workloads: set-up, one timed pass, and the output check.

A pass runs every operation of a workload once, one at a time from this
process (a closed loop with one client). Calls into the engine are timed
from outside; when tracing, each call also runs under a Spark job group
``<op>#<pass>#<phase>`` so the event log attributes its jobs, and the
operator caches are measured before and after the release hooks.
"""

from __future__ import annotations

import os
import re
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import __spark_entry__ as entry
from data_pipeline_4_online_retail_spark import pipeline
from data_pipeline_4_online_retail_spark.functions import prefix
from data_pipeline_4_online_retail_spark.operators import dedup, graph, multimodal
from data_pipeline_4_online_retail_spark.plans.retail import MODELS
from data_pipeline_4_online_retail_spark.session import get_spark, pin_session_semantics
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog, load_tables
from data_pipeline_4_online_retail_spark.sources.country_seed import (
    COUNTRY_ROWS,
    build_country_seed,
)
from data_pipeline_4_online_retail_spark.sources.io import read_csv
from data_pipeline_4_online_retail_spark.sources.schemas import RAW_INVOICES

from perfbench import checks, inputs

WAREHOUSE_QUERIES = [
    "star_report_customer",
    "star_report_product",
    "star_report_year",
    "star_fct_invoice_line_value",
    "op_window_group_max",
    "ev_session_window",
    "wh_scd2_build",
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
]
WAREHOUSE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
]

CURATION_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh_fast",
    "dedup_semantic_within_label_fast",
    "sim_topk_bruteforce",
    "sim_ann_lsh",
    "sim_range_search",
    "text_word_freq",
    "text_bm25",
    "text_quality_filters",
    "text_contamination",
    "mm_phash_dedup",
]
CURATION_TABLES = ["documents", "embeddings"]

# The four public cache-release hooks, called after every operation.
RELEASE_HOOKS: list[Callable[[], None]] = [
    dedup.release_caches,
    graph.release_caches,
    prefix.release_caches,
    multimodal.release_caches,
]

_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


@dataclass
class Span:
    group: str
    layer: str
    start: float
    end: float


@dataclass
class PassRecord:
    wall_s: float = 0.0
    attempted: int = 0
    failed_ops: set[str] = field(default_factory=set)
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        """Operations that failed, each counted once however many of its
        steps (build, run, release hooks, output check) went wrong."""
        return len(self.failed_ops)

    def fail(self, op: str, what: str) -> None:
        self.failed_ops.add(op)
        print(f"perfbench: {what}", flush=True)

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def peak(self, name: str, n: float) -> None:
        self.counts[name] = max(self.counts.get(name, 0), n)


class Session:
    """A live SparkSession plus what the workload's passes need from it."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced

    @contextmanager
    def span(self, rec: PassRecord, group: str, layer: str):
        if self.traced:
            self.sc.setJobGroup(group, group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self.traced:
                self.sc._jsc.clearJobGroup()
            rec.spans.append(Span(group, layer, start, end))

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_bytes(self) -> int:
        return sum(
            info.memSize() + info.diskSize()
            for info in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()


def _fail(rec: PassRecord, op: str, what: str) -> None:
    rec.fail(op, f"{what} failed:\n{traceback.format_exc()}")


class Workload:
    """Base: set-up is ``get_spark`` plus a sources-layer load."""

    name = ""
    tables: list[str] = []

    def __init__(self, data_dir: str, work_dir: str, cache_dir: str, spark_conf: dict[str, str]):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.spark_conf = spark_conf

    def setup(self, traced: bool) -> tuple[Session, float, float]:
        """A session ready for passes, with the seconds spent in
        ``get_spark`` and in the sources layer."""
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=self.spark_conf)
        t1 = time.perf_counter()
        self.load(spark)
        t2 = time.perf_counter()
        return Session(spark, traced), t1 - t0, t2 - t1

    def load(self, spark) -> None:
        raise NotImplementedError

    def write_inputs(self, seed: int) -> None:
        raise NotImplementedError

    def input_files(self) -> list[str]:
        raise NotImplementedError

    def run_pass(self, s: Session, pass_no: int, collect: bool = False) -> PassRecord:
        raise NotImplementedError

    def expected(self):
        """The reference outputs, computed before Spark starts."""
        raise NotImplementedError

    def check(self, expected, records: list[PassRecord]) -> None:
        """Verify the outputs of one of the passes ``records`` holds, in
        run order; a wrong output fails that pass's operation."""
        raise NotImplementedError


class QueryWorkload(Workload):
    """Registry queries, each built, planned and sent through a noop sink."""

    queries: list[str] = []

    def __init__(self, data_dir, work_dir, cache_dir, spark_conf):
        super().__init__(data_dir, work_dir, cache_dir, spark_conf)
        self.registry = entry.queries()
        self.content_digest = ""

    def load(self, spark) -> None:
        load_tables(spark, self.data_dir)

    def _release(self, s: Session, rec: PassRecord, op: str, group: str) -> None:
        with s.span(rec, group, "operators.release"):
            for hook in RELEASE_HOOKS:
                try:
                    hook()
                except Exception:  # noqa: BLE001 — a failed release fails the operation
                    _fail(rec, op, f"{group} {hook.__module__}.release_caches")

    def run_pass(self, s: Session, pass_no: int, collect: bool = False) -> PassRecord:
        """One pass; with ``collect`` every result is delivered to the
        driver as Arrow and kept in ``rec.outputs`` for the check, else it
        goes through the noop sink."""
        rec = PassRecord()
        start = time.perf_counter()
        for name in self.queries:
            tag = f"{name}#{pass_no}"
            rec.attempted += 1
            try:
                with s.span(rec, f"{tag}#build", "plans.build"):
                    df = self.registry[name](s.spark, self.data_dir)
                if s.traced:
                    with s.span(rec, f"{tag}#plan", "plans.plan"):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    rec.count("plans.exchanges", len(_EXCHANGE.findall(plan)))
                with s.span(rec, f"{tag}#exec", "spark.exec"):
                    if collect:
                        rec.outputs[name] = df.toArrow()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if s.traced:
                    rec.peak("operators.cached_bytes_peak", s.cached_bytes())
            except Exception:  # noqa: BLE001 — one failing query must not stop the pass
                _fail(rec, name, tag)
            self._release(s, rec, name, f"{tag}#release")
            if s.traced:
                rec.count("operators.persisted_after", s.persisted_rdds())
        rec.wall_s = time.perf_counter() - start
        return rec

    def write_inputs(self, seed: int) -> None:
        self.content_digest = inputs.write_tables(self.data_dir, self.tables, seed)

    def input_files(self) -> list[str]:
        return [os.path.join(self.data_dir, f"{t}.parquet") for t in self.tables]

    def expected(self):
        oracles = entry.oracle_sql()
        return checks.cached_query_oracles(
            self.cache_dir, self.content_digest, self.data_dir, self.tables,
            {q: oracles[q] for q in self.queries}, self.work_dir,
        )

    def check(self, expected, records: list[PassRecord]) -> None:
        """Compare the outputs the first pass collected; a query that
        failed in that pass is already counted."""
        rec = records[0]
        for name, table in rec.outputs.items():
            want = expected[name]
            reason = want if isinstance(want, str) else checks.compare_arrow(table, *want)
            if reason is not None:
                rec.fail(name, f"{name} wrong result: {reason}")


class WarehouseQueries(QueryWorkload):
    name = "warehouse_queries"
    queries = WAREHOUSE_QUERIES
    tables = WAREHOUSE_TABLES


class CurationQueries(QueryWorkload):
    name = "curation_queries"
    queries = CURATION_QUERIES
    tables = CURATION_TABLES


class RetailPipeline(Workload):
    """The reference DAG over the CSV; one pass is one pipeline run plus the
    parquet writes of all eight models, as the CLI does."""

    name = "retail_pipeline"

    def __init__(self, data_dir, work_dir, cache_dir, spark_conf):
        super().__init__(data_dir, work_dir, cache_dir, spark_conf)
        self.csv_path = os.path.join(data_dir, "online_retail.csv")
        self.out_dir = os.path.join(work_dir, "retail_output")
        self.country = None

    def write_inputs(self, seed: int) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        inputs.write_retail_csv(self.csv_path, seed)

    def input_files(self) -> list[str]:
        return [self.csv_path]

    def load(self, spark) -> None:
        pin_session_semantics(spark)
        self.country = build_country_seed(spark)

    def _wrap(self, s, rec, fn, group, layer, on_result=None):
        def run(cat):
            with s.span(rec, group, layer):
                result = fn(cat)
            if on_result is not None:
                on_result(result)
            return result

        return run

    def run_pass(self, s: Session, pass_no: int, collect: bool = False) -> PassRecord:
        """One pipeline run plus the writes; the written reports are the
        output whatever ``collect`` says."""
        rec = PassRecord(attempted=1)
        start = time.perf_counter()
        csv_path, country = self.csv_path, self.country
        try:
            pipe = pipeline.build_retail_pipeline(
                lambda spark: read_csv(spark, csv_path, RAW_INVOICES),
                lambda spark: country,
            )
            for st in pipe.stages:
                st.run = self._wrap(
                    s, rec, st.run, f"{st.name}#{pass_no}#build", "pipeline.stage_run"
                )
                st.gate = self._wrap(
                    s, rec, st.gate, f"{st.name}#{pass_no}#gate", "quality.gate",
                    lambda report: rec.count("quality.checks", len(report.results)),
                )
            cat = Catalog(s.spark)
            pipe.execute(cat)
            for name, _ in MODELS:
                with s.span(rec, f"{name}#{pass_no}#write", "pipeline.write"):
                    cat.table(name).write.mode("overwrite").parquet(
                        os.path.join(self.out_dir, name)
                    )
        except Exception:  # noqa: BLE001 — a failed run is a failed operation
            _fail(rec, self.name, f"pipeline pass {pass_no}")
        rec.wall_s = time.perf_counter() - start
        if s.traced:
            rec.count("operators.persisted_after", s.persisted_rdds())
        return rec

    def expected(self):
        return checks.retail_expected(
            self.csv_path, COUNTRY_ROWS, entry.oracle_sql(), self.work_dir
        )

    def check(self, expected, records: list[PassRecord]) -> None:
        """Compare the reports the last pass wrote."""
        rec = records[-1]
        for report in checks.RETAIL_REPORTS:
            try:
                reason = checks.check_report(self.out_dir, report, expected[report])
            except Exception:  # noqa: BLE001 — unreadable output is a wrong result
                reason = traceback.format_exc()
            if reason is not None:
                rec.fail(self.name, f"{report} wrong result: {reason}")


WORKLOADS = {
    w.name: w for w in (RetailPipeline, WarehouseQueries, CurationQueries)
}
