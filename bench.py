"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE COMPACT JSON line (last stdout line):

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": <sf>, "tpch_total_sec": ..,
     "scale10_total_ratio": .., "n_errors": N}

The driver's tail capture keeps only ~2 KB of stdout, so the stdout line
is kept small (headline per-query dict + tier totals; VERDICT r4 item 1 —
r3/r4 both lost their driver-parsed bench number to oversized output).
The FULL result (per-query extras/tpch/scale10 dicts, untruncated errors)
is written to ``BENCH_full.json`` next to this file, or to the directory
``$SPARK_GRAFT_BENCH_OUT`` names instead.

Each query materializes fully through the ``noop`` sink (no output cost,
no driver collect). Timings include plan + execution, excluding the shared
SparkSession and an untimed warmup: one trivial query and a one-row read
of every table (``warmup_sec`` in the JSON).

Fault-isolated: every query (and the scale10 block) runs under its own
try/except — a failing query lands in ``"errors"`` with its exception
text and the JSON line is ALWAYS emitted. One broken query must never
destroy the round's other timings (it did in r3).

The ``scale10`` block replicates the sf data 10x with shifted keys
(tools/make_scale10.py), re-times the headline set there, and reports
per-query 10x/1x ratios — a sub-linear-or-linear ratio is the
scale-probe evidence that the plan survives growth. Cached under
/tmp/scale10_<sf>; set SPARK_GRAFT_SCALE10=0 to skip.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from data_pipeline_4_online_retail_spark.session import (
    apply_scale_granularity,
    get_spark,
    release_caches,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the star-schema reports (the reference's own workload),
# the fact build (join-heavy), and the extension tier's heavy hitters.
HEADLINE = [
    "star_report_customer",
    "star_report_product",
    "star_report_year",
    "star_fct_invoice_line_value",
    "op_window_group_max",
    "dedup_exact",
    "dedup_minhash_lsh_fast",
    "sim_topk_bruteforce",
    "text_word_freq",
    "ev_session_window",
]

# Round-2 curation tier — timed separately (extra_queries) so the headline
# total stays comparable across rounds.
EXTRA = [
    "text_quality_filters",
    "text_contamination",
    "text_chunk_windows",
    "text_pack_sequences",
    "text_bm25",
    "ev_asof_join",
    "sim_kmeans",
    "ev_funnel",
    "ev_cohort_retention",
    "wh_scd2_build",
    # round-4 additions (extra_total_sec therefore not comparable to r2's;
    # per-query timings remain comparable)
    "text_dup_span_removal",
    "dedup_semantic_within_label",
    "dedup_semantic_within_label_fast",
    "wh_snapshot_diff",
    "ev_resample_interpolate",
    "text_dsir_stats",
    # round-4c additions (again: per-query timings comparable, the
    # extra_total_sec is not comparable to earlier rounds)
    "ev_sessionize",
    "ev_journey_paths",
    "op_bitmap_distinct",
    "dedup_url_canonicalize",
    # round-4d additions (same caveat)
    "wh_late_arriving_dim",
    "wh_compaction_plan",
    "sim_range_search",
    "op_group_moments_mergeable",
    "ev_conversion_lag",
    "op_explode_outer",
    "gov_row_level_security",
    "wh_dim_surrogate_assign",
    "text_vocab_growth",
    # round-4e additions (same caveat)
    "ev_time_weighted_avg",
    "wh_bitemporal_asof",
    "op_cogroup_asof",
    "mm_phash_dedup",
    "op_sql_udf",
]

# Round-4 (cont.) classic-warehouse tier — timed separately so headline
# and extras stay cross-round-comparable.
TPCH = [
    "tpch_q01",
    "tpch_q02",
    "tpch_q03",
    "tpch_q04",
    "tpch_q05",
    "tpch_q06",
    "tpch_q07",
    "tpch_q08",
    "tpch_q09",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
]

SCALE10_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _run(qs, name, spark, sf_dir, n_runs, errors):
    """Time one query min-of-n; on failure record the error and return None."""
    runs = []
    for _ in range(n_runs):
        t = time.time()
        try:
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return None
        finally:
            release_caches()
        runs.append(time.time() - t)
    return runs


def _median(runs: list[float]) -> float:
    s = sorted(runs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _scale10_dir(spark, errors):
    """Return a ready 10x replica dir, building it if absent."""
    sf_tag = os.path.basename(SF_DIR.rstrip("/"))
    out = os.environ.get("SPARK_GRAFT_SCALE10_DIR", f"/tmp/scale10_{sf_tag}")
    done = all(
        os.path.exists(os.path.join(out, f"{t}.parquet", "_SUCCESS"))
        for t in SCALE10_TABLES
    )
    if done:
        return out
    from tools.make_scale10 import build

    build(spark, SF_DIR, out, 10, quiet=True)
    return out


# Keys kept on the compact stdout line; everything else lives only in
# BENCH_full.json. "queries" is the 10-entry headline dict (~350 bytes).
_COMPACT_KEYS = (
    "metric",
    "value",
    "unit",
    "sf",
    "queries",
    "headline_median_sec",
    "cold_total_sec",
    "warmup_sec",
    "extra_total_sec",
    "tpch_total_sec",
    "scale10_total_sec",
    "scale10_total_ratio",
    "cal_1t_sec",
    "cal_1t_end_sec",
    "cpus",
)


def _calibrate_host() -> float:
    """Single-thread CPU reference: seconds for a fixed 10M-iteration
    Python add loop. Every BENCH line carries it so cross-round timing
    comparisons can be normalized for host speed — r5 measured the same
    committed tree 1.3-1.5x slower than r4's idle band on every query
    INCLUDING the JVM warmup, i.e. the host, not the code, had changed.

    Measured at process start (cal_1t_sec) AND after the last tier
    (cal_1t_end_sec): one r5 run read 0.49 at start yet timed the 1x
    tier ~2x slow with scale10_total_ratio 0.63 — the host drifted
    WITHIN the run, so a single sample can't vouch for the middle.
    Disagreeing start/end brackets mean "discard the absolutes, trust
    only intra-tier ratios"; agreeing ones calibrate the whole run.
    """
    t = time.time()
    s = 0
    for i in range(10_000_000):
        s += i
    return round(time.time() - t, 3)


def _emit(result: dict, out_dir: str | None = None) -> None:
    """Write the full result to BENCH_full.json; print a compact final line.

    The compact line is capped: error texts are clipped to 60 chars and,
    if the line would still exceed ~1.8 KB (e.g. every query failed), the
    error dict collapses to a count + one sample — the full texts are in
    BENCH_full.json either way.

    ``SPARK_GRAFT_BENCH_OUT`` redirects the artifact (pytest's
    failure-path subprocess runs set it to a tmp dir). Artifact
    ownership (VERDICT r6 item 5): the repo-root BENCH_full.json is
    UNTRACKED scratch (.gitignore'd) so a driver bench run never dirties
    the committed tree; the builder's certification runs are committed
    explicitly as BENCH_close_r{N}.json via SPARK_GRAFT_BENCH_OUT.
    """
    here = (
        out_dir
        or os.environ.get("SPARK_GRAFT_BENCH_OUT")
        or os.path.dirname(os.path.abspath(__file__))
    )
    try:
        with open(os.path.join(here, "BENCH_full.json"), "w") as f:
            json.dump(result, f)
            f.write("\n")
    except OSError:
        pass  # a read-only checkout must not kill the stdout contract

    compact = {k: result[k] for k in _COMPACT_KEYS if k in result}
    errors = result.get("errors") or {}
    compact["n_errors"] = len(errors)
    compact["errors"] = {k: v[:60] for k, v in errors.items()}
    line = json.dumps(compact)
    if len(line) > 1800 and errors:
        first_name, first_msg = next(iter(errors.items()))
        compact["errors"] = {
            first_name: first_msg[:120],
            "_more_in": "BENCH_full.json",
            "_n": len(errors),
        }
        line = json.dumps(compact)
    print(line)


def main() -> None:
    result: dict = {
        "metric": "headline_queries_total_sec",
        "value": None,
        "unit": "sec",
        "queries": {},
        "sf": None,
        "errors": {},
    }
    errors: dict[str, str] = result["errors"]
    try:
        result["cal_1t_sec"] = _calibrate_host()
        sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
        try:
            result["sf"] = float(sf)
        except ValueError:
            result["sf"] = sf

        spark = get_spark("bench")
        # scale-aware shuffle granularity for THIS tier's input (the
        # session derives it from env at build; re-derive explicitly so a
        # bench pointed at a non-env dir still sizes correctly)
        apply_scale_granularity(spark, SF_DIR)
        qs = entry.queries()

        t0 = time.time()
        # warmup: JVM + parquet footers + first-job overhead on a trivial query
        try:
            qs["op_order_by_full"](spark, SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()
            # touch every table's footer + first page so no headline query
            # pays first-IO on its cold run (VERDICT r10 item 6: the worst
            # offender, star_report_customer, reads dims the trivial warmup
            # query never opens; min-of-3 already discards the cold run —
            # this just narrows the cold-vs-warm spread the driver sees).
            # NOTE (ADVICE r11): limit(1) scans one file/partition per
            # table — full coverage on this harness's single-file tables,
            # only PARTIAL first-IO narrowing on multi-file tables at
            # real tiers.
            from data_pipeline_4_online_retail_spark.sources.catalog import (
                load_tables as _lt,
            )
            _cat = _lt(spark, SF_DIR)
            for _t in _cat.names():
                _cat.table(_t).limit(1).write.mode("overwrite").format(
                    "noop"
                ).save()
        except Exception as exc:  # noqa: BLE001
            errors["_warmup"] = f"{type(exc).__name__}: {exc}"[:500]
        result["warmup_sec"] = round(time.time() - t0, 3)

        timings: dict[str, float] = {}
        medians: dict[str, float] = {}
        cold: dict[str, float] = {}
        for name in HEADLINE:
            runs = _run(qs, name, spark, SF_DIR, 3, errors)
            if runs is None:
                continue
            # first run pays one-time broadcast/scan setup; min-of-3 damps
            # single-machine scheduling noise. Median-of-3 is reported
            # alongside (VERDICT r5 item 4): on a host drifting ±40%,
            # best-of-N is optimistic-biased — the median is the
            # round-over-round comparator, the min the capability floor.
            cold[name] = round(runs[0], 3)
            timings[name] = round(min(runs), 3)  # steady-state
            medians[name] = round(_median(runs), 3)
        result["queries"] = timings
        result["queries_median"] = medians
        result["value"] = round(sum(timings.values()), 3)
        result["headline_median_sec"] = round(sum(medians.values()), 3)
        result["cold_total_sec"] = round(sum(cold.values()), 3)

        extra: dict[str, float] = {}
        for name in EXTRA:
            runs = _run(qs, name, spark, SF_DIR, 2, errors)
            if runs is not None:
                extra[name] = round(min(runs), 3)
        result["extra_queries"] = extra
        result["extra_total_sec"] = round(sum(extra.values()), 3)

        tpch: dict[str, float] = {}
        for name in TPCH:
            runs = _run(qs, name, spark, SF_DIR, 2, errors)
            if runs is not None:
                tpch[name] = round(min(runs), 3)
        result["tpch_queries"] = tpch
        result["tpch_total_sec"] = round(sum(tpch.values()), 3)

        # --- scale10 probe: same headline plans at 10x the rows ---------
        if os.environ.get("SPARK_GRAFT_SCALE10", "1") != "0":
            try:
                t0 = time.time()
                dir10 = _scale10_dir(spark, errors)
                result["scale10_build_sec"] = round(time.time() - t0, 3)
                # 10x tier = 10x the bytes — re-derive shuffle granularity
                apply_scale_granularity(spark, dir10)
                s10: dict[str, float] = {}
                for name in HEADLINE:
                    if name in errors:
                        continue
                    # min-of-3 like the 1x tier: a single cold first run
                    # (codegen + scan setup after cache eviction) can be
                    # 10x steady-state and min-of-2 doesn't always shed it
                    runs = _run(qs, name, spark, dir10, 3, errors)
                    if runs is not None:
                        s10[name] = round(min(runs), 3)
                result["scale10_queries"] = s10
                result["scale10_total_sec"] = round(sum(s10.values()), 3)
                result["scale10_ratio"] = {
                    n: round(s10[n] / timings[n], 2)
                    for n in s10
                    if timings.get(n, 0) > 0
                }
                if timings and s10:
                    common = [n for n in s10 if n in timings]
                    result["scale10_total_ratio"] = round(
                        sum(s10[n] for n in common)
                        / max(sum(timings[n] for n in common), 1e-9),
                        2,
                    )
            except Exception as exc:  # noqa: BLE001
                errors["_scale10"] = f"{type(exc).__name__}: {exc}"[:500]

        result["cpus"] = os.environ.get("SPARK_GRAFT_CPUS", "32")
        result["cal_1t_end_sec"] = _calibrate_host()
    except Exception:  # noqa: BLE001 — emit whatever we have, plus the trace
        errors["_harness"] = traceback.format_exc()[-1000:]
    _emit(result)


if __name__ == "__main__":
    main()
