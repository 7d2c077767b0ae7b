"""In-process pipeline runner — the Airflow DAG role (SURVEY.md §2.12).

The reference chains [load, country] → check → transform → check → report
→ check across worker subprocesses and venvs; in Spark those boundaries
collapse into one driver process: a stage registry executed in topological
order with fail-stop quality gates between stages (C1-C3).

``run_retail_pipeline`` is the whole reference DAG end-to-end:
load fixtures (or real CSV) → gate → dims+fact → gate → reports → gate.

Every stage table is ``materialized: table``, as in the reference's
dbt_project.yml: ``raw_invoices`` and each model are persisted through
``session.persist_scoped`` before they are registered. Each table's gate
aggregate is the first action over it and fills the cache, so later
models, the parquet writes and any ``show()`` read the materialized rows
instead of re-deriving the CSV read, the preprocess window and every
upstream join. The tables are held until the next ``Pipeline.execute`` or
``session.release_caches()`` (which ``plans.registry.register`` calls at
each registered builder's entry); after that a frame recomputes through
its lineage.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from data_pipeline_4_online_retail_spark import quality, session
from data_pipeline_4_online_retail_spark.plans import retail
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog


@dataclass
class Stage:
    name: str
    run: Callable[[Catalog], None]
    gate: Callable[[Catalog], quality.QualityReport] | None = None


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def add(self, stage: Stage) -> "Pipeline":
        self.stages.append(stage)
        return self

    def execute(self, cat: Catalog) -> list[quality.QualityReport]:
        """Run stages in order; a failing gate raises QualityGateError and
        halts the chain (the reference's Soda fail-stop, C2). The previous
        run's stage tables are released first, so at most one run's are
        held."""
        session.release_caches()
        reports: list[quality.QualityReport] = []
        for stage in self.stages:
            stage.run(cat)
            if stage.gate is not None:
                rep = stage.gate(cat)
                reports.append(rep)
                rep.raise_on_failure()
        return reports


def _load_stage(raw_loader, country_loader):
    def run(cat: Catalog) -> None:
        spark = cat.spark
        raw = session.persist_scoped(retail.preprocess(raw_loader(spark)))
        cat.register("raw_invoices", raw)
        cat.register("country", country_loader(spark))

    return run


def _models_stage(models):
    def run(cat: Catalog) -> None:
        for name, model in models:
            cat.register(name, session.persist_scoped(model(cat)))

    return run


def build_retail_pipeline(raw_loader, country_loader) -> Pipeline:
    """The reference DAG: load → check_load → transform → check_transform →
    report → check_report."""
    return (
        Pipeline()
        .add(Stage("load", _load_stage(raw_loader, country_loader), quality.check_sources))
        .add(Stage("transform", _models_stage(retail.MODELS[:5]), quality.check_transform))
        .add(Stage("report", _models_stage(retail.MODELS[5:]), quality.check_report))
    )


def run_retail_pipeline(
    spark: SparkSession, raw_loader=None, country_loader=None
) -> Catalog:
    """End-to-end run; defaults to the deterministic parity fixtures."""
    from data_pipeline_4_online_retail_spark.sources import fixtures

    session.pin_session_semantics(spark)
    raw_loader = raw_loader or fixtures.raw_invoices_fixture
    country_loader = country_loader or fixtures.country_fixture
    cat = Catalog(spark)
    build_retail_pipeline(raw_loader, country_loader).execute(cat)
    return cat
