"""Registry of driver-checkable queries.

Each ``Query`` couples a Spark DataFrame builder with the equivalent ANSI
SQL that DuckDB runs on the same parquet tables. The driver compares
row-count + schema + order-insensitive value hash at sf=0.01
(CORRECTNESS_r{N}.json), so:

- every computed column is aliased identically on both sides,
- doubles are never rounded: per-row arithmetic on identical inputs is
  IEEE-deterministic, and aggregates sum exact DECIMALs (float summation
  order differs between engines), casting only the final aggregate to
  DOUBLE on both sides (see the float discipline in ``plans/star.py``),
- top-k queries carry deterministic tie-break orderings.

Queries with ``oracle=None`` are genuinely non-SQL-expressible (hash-based
LSH, streaming state) and get the driver's weaker rows-only check.

The ``"verification"`` tag (r8, VERDICT r7 item 6) marks exactness twins —
all-pairs, md5-signature, or uncapped forms deliberately kept alongside a
registered production path (their scale-safe fast/capped counterpart) as
the oracle-exact baseline. Correctness tooling runs them like any query;
bulk SCALE tooling (tools/scale_probe.py) skips them unless asked, so
probe totals reflect production plans.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_4_online_retail_spark.session import release_caches


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder.

    The registered builder first releases the previous query's scoped
    caches (see the cache-lifecycle note in ``session``)."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        @functools.wraps(fn)
        def build(*args, **kwargs) -> DataFrame:
            release_caches()
            return fn(*args, **kwargs)

        REGISTRY[name] = Query(
            name=name, build=build, oracle=oracle, doc=doc, tags=tags
        )
        return build

    return wrap


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
