"""Time EVERY registered query once (noop sink) and print the slowest.

The bench tiers cover 67 of the registry's query paths; this sweep gives
the other ~226 a measured number too, so "examined every operator" is a
table, not a claim. Single run per query (not min-of-N — this is an
outlier detector, not a benchmark); release hooks between queries.

Usage: python tools/registry_sweep.py [SF_DIR] [TOP_N]
Prints one JSON line: {"n": ..., "total_sec": ..., "slowest": [[name, sec], ...]}
and writes the full dict to /tmp/registry_sweep.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from data_pipeline_4_online_retail_spark.session import (
    apply_scale_granularity,
    get_spark,
    release_caches,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
TOP_N = int(sys.argv[2]) if len(sys.argv) > 2 else 25


def main() -> None:
    spark = get_spark("registry-sweep")
    apply_scale_granularity(spark, SF_DIR)
    qs = entry.queries()
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    cat = load_tables(spark, SF_DIR)
    for t in cat.names():
        cat.table(t).limit(1).write.mode("overwrite").format("noop").save()

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in qs:
        t0 = time.time()
        try:
            qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            release_caches()

    with open("/tmp/registry_sweep.json", "w") as f:
        json.dump({"times": times, "errors": errors, "sf_dir": SF_DIR}, f)
    slowest = sorted(times.items(), key=lambda kv: -kv[1])[:TOP_N]
    print(
        json.dumps(
            {
                "n": len(times),
                "n_errors": len(errors),
                "total_sec": round(sum(times.values()), 2),
                "slowest": slowest,
            }
        )
    )


if __name__ == "__main__":
    main()
