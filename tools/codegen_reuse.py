"""Count whole-stage code compilations per pass of a perfbench workload.

    python tools/codegen_reuse.py --workload curation_queries --seed 7 --passes 4

Sets up the workload the way ``perfbench/run.py`` does (same seeded
inputs, same session conf, untraced), then runs ``--passes`` passes in
one session. Around each pass it reads Spark's Janino compile counter
(``CodegenMetrics.METRIC_COMPILATION_TIME``, one sample per class
compiled). A pass whose generated code is still in Spark's codegen cache
compiles nothing; a cache smaller than a pass's working set recompiles
every warm pass. Prints one JSON object: per pass, the wall seconds and
the classes compiled, plus the session's ``spark.sql.codegen.cache.maxEntries``.
Working files go to ``.perfbench_work/codegen_reuse/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--passes", type=int, default=4)
    args = parser.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", "codegen_reuse", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    run._prepare_env(work)

    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](
        os.environ["SPARK_GRAFT_SF_DIR"], work, os.path.join(work, "oracle_cache"),
        run._spark_conf(work, trace=False),
    )
    wl.write_inputs(args.seed)
    session, *_ = wl.setup(traced=False)
    spark = session.spark
    passes = []
    for pass_no in range(args.passes):
        before = compile_count(spark)
        rec = wl.run_pass(session, pass_no)
        passes.append({
            "pass": pass_no,
            "wall_s": rec.wall_s,
            "compiled": compile_count(spark) - before,
            "failed": rec.failed,
        })
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    spark.stop()
    run._shutdown_jvm()
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "codegen_cache_max_entries": int(cache),
        "passes": passes,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
