"""The registry sweep: every registered query checked against its DuckDB
oracle, then timed and attributed to jobs, on a Spark-defaults session.

Runs on perfbench's runner (``perfbench/workloads.py``): a default
``SparkSession`` (``local[8]``, 8 shuffle partitions, Spark 4 defaults
plus an uncompressed event log) and one ``QueryWorkload`` over the chosen
queries. Every registered builder pins the engine's semantics (UTC, ANSI
off) on entry, so this is the session a driver hands ``__spark_entry__``.

1. Pass 0 collects each result as Arrow. Each query with an
   ``oracle_sql()`` entry runs in DuckDB over the same tables (parquet
   files or Spark-written directories of parts) and must match in row
   count, column names and sorted canonical rows (``perfbench.checks``:
   doubles to 6 decimals). Queries without an oracle are rows-only.
2. The driver-safety audit fails output types that break the driver's
   pandas canonicalizer even when values match:
   - DECIMAL (either engine) or DuckDB HUGEINT: pandas converts them
     asymmetrically, so trailing-zero values hash-mismatch. Accumulate in
     DECIMAL and cast the final aggregate to DOUBLE/BIGINT on both sides.
   - a column that is integer on one engine and float on the other:
     pandas renders ``90000`` vs ``90000.0``. Cast one side.
   - array/map/struct columns on either engine: pandas cannot hash lists.
     Explode to scalar rows or serialize.
3. Pass 1 sends every query through the noop sink under
   ``<query>#1#<phase>`` job groups. After the session stops, the event
   log is folded per group and one record per query (status, rows,
   build/plan/exec seconds, ``eventlog.COUNTERS``, ``busy_gap_ms``) is
   written to ``.perfbench_work/oracle_check/registry_sweep.json``.

Usage:  python tools/oracle_check.py [sf_dir] [query_name ...]
Prints one ``ok``/``rows``/``FAIL`` line per query and the ten slowest;
exits 1 when any query fails.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, eventlog  # noqa: E402
from perfbench.run import _shutdown_jvm, _spark_conf  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]
WORK = os.path.join(ROOT, ".perfbench_work", "oracle_check")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def spark_type_class(dt) -> str:
    """Bucket a Spark DataType into the driver-canonicalizer classes."""
    from pyspark.sql import types as _T

    if isinstance(dt, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)):
        return "int"
    if isinstance(dt, (_T.FloatType, _T.DoubleType)):
        return "float"
    if isinstance(dt, (_T.ArrayType, _T.MapType, _T.StructType)):
        return "nested"
    return "other"


def duck_type_class(t: str) -> str:
    """Bucket a DuckDB type string into the driver-canonicalizer classes."""
    t = t.upper()
    if "[]" in t or t.startswith(("STRUCT", "MAP", "LIST", "ARRAY")):
        return "nested"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    return "other"


def dtype_pair_problems(
    spark_classes: dict[str, str], duck_classes: dict[str, str]
) -> list[str]:
    """The r2 op_math_functions bug class: per-column int-vs-float
    asymmetry between engines — both types individually driver-safe, but
    pandas renders int64 ``90000`` vs float64 ``90000.0``."""
    return [
        f"{c}: spark={spark_classes[c]} duck={duck_classes[c]}"
        for c in spark_classes
        if c in duck_classes
        and {spark_classes[c], duck_classes[c]} == {"int", "float"}
    ]


def audit(schema, desc) -> list[str]:
    """Driver-unsafe output types: ``schema`` is the Spark result's
    ``StructType``, ``desc`` the oracle's DuckDB ``DESCRIBE`` rows."""
    from pyspark.sql import types as _T

    problems = []
    spark_classes = {f.name: spark_type_class(f.dataType) for f in schema.fields}
    bad_spark = [f.name for f in schema.fields if isinstance(f.dataType, _T.DecimalType)]
    if bad_spark:
        problems.append(f"driver-unsafe Spark DECIMAL output: {bad_spark}")
    nested_spark = [c for c, k in spark_classes.items() if k == "nested"]
    if nested_spark:
        problems.append(
            f"driver-unsafe Spark array/map/struct output: {nested_spark} "
            "(pandas canonicalizer cannot hash lists — explode or serialize)"
        )
    duck_classes = {cname: duck_type_class(str(ctype)) for cname, ctype, *_ in desc}
    bad_duck = [
        (cname, ctype)
        for cname, ctype, *_ in desc
        if "DECIMAL" in str(ctype).upper() or "HUGEINT" in str(ctype).upper()
    ]
    if bad_duck:
        problems.append(f"driver-unsafe DuckDB output types: {bad_duck}")
    nested_duck = [c for c, k in duck_classes.items() if k == "nested"]
    if nested_duck:
        problems.append(f"driver-unsafe DuckDB nested output: {nested_duck}")
    asym = dtype_pair_problems(spark_classes, duck_classes)
    if asym:
        problems.append(
            "driver-unsafe int/float dtype asymmetry "
            + "; ".join(asym)
            + " (cast one side so the class matches)"
        )
    return problems


def duck_views(tables: list[str]):
    """A DuckDB connection with one view per table present in ``SF_DIR``."""
    con = checks._connect(WORK)
    for t in tables:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):  # spark-written table = directory of parts
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(con, table, sql: str) -> str | None:
    """``None`` when the collected Arrow ``table`` matches the oracle and
    has driver-safe types, else the reason."""
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        want = checks.canon_rows(res.fetchall(), cols)
    except Exception as exc:  # noqa: BLE001
        return f"duckdb error: {exc}"
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception:  # noqa: BLE001  (DESCRIBE unsupported → skip its half)
        desc = []
    problems = audit(from_arrow_schema(table.schema), desc)
    reason = checks.compare_arrow(table, cols, want)
    if reason == "values differ from oracle":
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        got = checks.canon_rows(rows, table.column_names)
        for a, b in [(a, b) for a, b in zip(got, want) if a != b][:3]:
            reason += f"\n      spark: {a[:200]}\n      duck : {b[:200]}"
    return "; ".join(problems + [reason] if reason else problems) or None


def spark_session():
    """Spark defaults, as a driver builds them, plus perfbench's event log."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[8]").config("spark.sql.shuffle.partitions", "8")
    for k, v in _spark_conf(WORK, trace=True).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def record(name: str, status: str, rows, groups: dict, spans) -> dict:
    """One query's pass-1 record: phase seconds and its jobs' counters."""
    tag = f"{name}#1#"
    rec = {"query": name, "status": status, "rows": rows}
    for phase in ("build", "plan", "exec"):
        rec[f"{phase}_s"] = round(sum(s.end - s.start for s in spans if s.group == tag + phase), 3)
    g = eventlog.merge(st for grp, st in groups.items() if grp.startswith(tag))
    rec.update({c: round(getattr(g, c), 1) for c in eventlog.COUNTERS})
    rec["busy_gap_ms"] = eventlog.busy_gap_ms(g)
    return rec


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import the engine whatever the launch directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    import __spark_entry__ as entry
    from perfbench.workloads import QueryWorkload, Session

    wl = QueryWorkload(SF_DIR, WORK, WORK, {})
    unknown = [q for q in ONLY if q not in wl.registry]
    wl.queries = [q for q in wl.registry if not ONLY or q in ONLY]
    wl.tables = TABLES
    oracles = entry.oracle_sql()

    start = time.perf_counter()
    s = Session(spark_session(), traced=True)
    collected = wl.run_pass(s, 0, collect=True)
    timed = wl.run_pass(s, 1)
    s.spark.stop()
    _shutdown_jvm()
    print(f"spark: 2 passes over {len(wl.queries)} queries in {time.perf_counter() - start:.0f} s")
    groups = eventlog.read_logs(sorted(glob.glob(os.path.join(WORK, "eventlog", "local-*"))))

    failures = []
    for name in unknown:
        failures.append(name)
        print(f"FAIL  {name}: not a registered query")
    records = []
    con = duck_views(wl.tables)
    for name in wl.queries:
        table = collected.outputs.get(name)
        if table is None:
            reason, status = "spark error (traceback above)", "failed"
        elif name not in oracles:
            reason, status = None, "rows_only"
        else:
            reason = check(con, table, oracles[name])
            status = "failed" if reason else "matched"
        if reason is None and name in timed.failed_ops:
            reason, status = "noop pass failed (traceback above)", "failed"
        rows = None if table is None else table.num_rows
        rec = record(name, status, rows, groups, timed.spans)
        records.append(rec)
        secs = rec["build_s"] + rec["plan_s"] + rec["exec_s"]
        if reason:
            failures.append(name)
            print(f"FAIL  {name}: {reason}")
        elif status == "matched":
            print(f"ok    {name}: {rows} rows  ({secs:.1f}s)")
        else:
            print(f"rows  {name}: {rows} rows (no oracle — rows-only check)  ({secs:.1f}s)")
    con.close()

    with open(os.path.join(WORK, "registry_sweep.json"), "w", encoding="utf-8") as fh:
        lines = ",\n".join(json.dumps(r) for r in records)  # one record a line
        fh.write(f'{{"sf_dir": {json.dumps(SF_DIR)}, "queries": [\n{lines}\n]}}\n')
    slowest = sorted(records, key=lambda r: -(r["build_s"] + r["plan_s"] + r["exec_s"]))[:10]
    print("\nslowest (pass 1, build / plan / exec s, jobs):")
    for r in slowest:
        print(f"  {r['query']}: {r['build_s']} / {r['plan_s']} / {r['exec_s']}, {r['jobs']} jobs")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
