"""Spark's generated-code cache holds a warm pass's working set.

Whole-stage codegen compiles each distinct generated class with Janino
and keeps it in a JVM-wide LRU (``spark.sql.codegen.cache.maxEntries``).
A pass of perfbench's curation workload runs more distinct classes than
Spark's default of 100, so with that default every warm pass recompiled
all of them; ``session.get_spark`` sizes the cache so a warm pass finds
them. Counted with Spark's Janino compile counter around each pass.

Pass 0 must compile the queries' classes itself for the check to mean
anything, so this file sorts before ``test_cache_registry.py``, whose
sweep runs every registered query in the same JVM.
"""

from __future__ import annotations

import __spark_entry__ as entry
from perfbench.workloads import CURATION_QUERIES, RELEASE_HOOKS
from tests.conftest import SF_DIR
from tools.codegen_reuse import compile_count

# Measured at sf0.001 on 4 cores: pass 0 compiles about 145 classes,
# pass 1 compiles 2 (at Spark's default cache size: about 140 again).
WARM_PASS_MAX_COMPILES = 10


def test_warm_curation_pass_reuses_generated_code(spark):
    queries = entry.queries()
    compiled = []
    for _ in range(2):
        before = compile_count(spark)
        for name in CURATION_QUERIES:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            for release in RELEASE_HOOKS:
                release()
        compiled.append(compile_count(spark) - before)
    assert compiled[0] > 100, compiled
    assert compiled[1] <= WARM_PASS_MAX_COMPILES, compiled
