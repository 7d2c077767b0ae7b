"""Data-quality checks + fail-stop gate runner — the Soda surface
(include/soda/check_function.py, include/soda/checks/**).

Each check compiles to one small DataFrame aggregation on the just-built
table; a stage gate evaluates its checks and raises ``QualityGateError``
before downstream stages run (the reference's ``raise ValueError('Soda
Scan failed')`` semantics, check_function.py:19-23).

Check vocabulary (SURVEY.md §2.6 A7, §2.9 F10/F11):
- ``schema_check``     required columns + types (schema contracts, e.g.
                       checks/sources/raw_invoices.yml:2-12)
- ``not_null``         missing_count(col) = 0
- ``unique``           duplicate_count(col) = 0
- ``accepted_range``   invalid_count outside [lo, hi] = 0
- ``min_threshold``    min(col) ≥ bound
- ``failed_rows``      arbitrary predicate must match 0 rows
                       (fct_invoice_line_value.yml:13-18)

Scale: every check is a single filtered aggregate — predicate-pushed,
codegen, no collection beyond one scalar per check. Checks on the same
table could share one pass via a combined agg; kept separate for
reporting clarity (each failure names its check).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class QualityGateError(RuntimeError):
    """A quality gate failed; downstream stages must not run."""


@dataclass
class CheckResult:
    table: str
    check: str
    passed: bool
    detail: str = ""


@dataclass
class QualityReport:
    results: list[CheckResult] = field(default_factory=list)

    def add(self, r: CheckResult) -> None:
        self.results.append(r)

    @property
    def failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed]

    def raise_on_failure(self) -> None:
        if self.failures:
            lines = "; ".join(f"{r.table}.{r.check}: {r.detail}" for r in self.failures)
            raise QualityGateError(f"quality gate failed: {lines}")


# ---------------------------------------------------------------------------
# Individual checks
# ---------------------------------------------------------------------------


def schema_check(
    df: DataFrame, required: dict[str, T.DataType], *, table: str
) -> CheckResult:
    """Required columns present with the declared types (extra columns are
    allowed — the reference contract omits Description on purpose)."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in required if c not in actual]
    wrong = [
        f"{c}: {actual[c].simpleString()}≠{t.simpleString()}"
        for c, t in required.items()
        if c in actual and actual[c] != t
    ]
    ok = not missing and not wrong
    detail = "; ".join(
        (["missing: " + ", ".join(missing)] if missing else [])
        + (["wrong type: " + ", ".join(wrong)] if wrong else [])
    )
    return CheckResult(table, "schema", ok, detail)


def not_null(df: DataFrame, col: str, *, table: str) -> CheckResult:
    n = df.filter(F.col(col).isNull()).count()
    return CheckResult(table, f"not_null({col})", n == 0, f"{n} nulls")


def unique(df: DataFrame, col: str, *, table: str) -> CheckResult:
    n = df.groupBy(col).count().filter(F.col("count") > 1).count()
    return CheckResult(table, f"unique({col})", n == 0, f"{n} duplicated values")


def accepted_range(
    df: DataFrame, col: str, lo, hi, *, table: str
) -> CheckResult:
    n = df.filter(~F.col(col).between(lo, hi) | F.col(col).isNull()).count()
    return CheckResult(
        table, f"accepted_range({col},[{lo},{hi}])", n == 0, f"{n} out of range"
    )


def min_threshold(df: DataFrame, col: str, bound, *, table: str) -> CheckResult:
    v = df.agg(F.min(col)).first()[0]
    ok = v is not None and v >= bound
    return CheckResult(table, f"min({col})>={bound}", ok, f"min={v}")


def failed_rows(df: DataFrame, predicate: str, *, table: str) -> CheckResult:
    n = df.filter(predicate).count()
    return CheckResult(table, f"failed_rows({predicate})", n == 0, f"{n} rows")


# ---------------------------------------------------------------------------
# The reference's three gates, ported check-for-check
# ---------------------------------------------------------------------------

_D = T.DoubleType()
_S = T.StringType()
_I = T.IntegerType()


def check_sources(cat) -> QualityReport:
    """check_load: schema contracts on raw_invoices + country
    (checks/sources/*.yml). The raw_invoices required-column list omits
    Description — replicated as-is."""
    rep = QualityReport()
    raw = cat.table("raw_invoices")
    rep.add(
        schema_check(
            raw,
            {
                "InvoiceNo": _S,
                "StockCode": _S,
                "Quantity": _I,
                "InvoiceDate": _S,
                "UnitPrice": _D,
                "CustomerID": _D,
                "Country": _S,
            },
            table="raw_invoices",
        )
    )
    country = cat.table("country")
    rep.add(
        schema_check(
            country,
            {"iso": _S, "name": _S, "iso3": _S, "numcode": _I, "phonecode": _I},
            table="country",
        )
    )
    return rep


def check_transform(cat) -> QualityReport:
    """check_transform (checks/transform/*.yml): key uniqueness +
    non-nullness per dim, weekday range, price min, fact failed-rows.

    Documented deviation: the reference asserts weekday ∈ [0, 6]
    (dim_datetime.yml:9-12) while its own data is BigQuery DAYOFWEEK
    1..7 — every Saturday fails in the reference. We keep the 1..7 data
    semantics and check the range that matches them (SURVEY.md §2.9 F5).
    """
    rep = QualityReport()
    for t in ("dim_customer", "dim_datetime", "dim_product", "dim_invoice"):
        key = {
            "dim_customer": "customer_key",
            "dim_datetime": "date_key",
            "dim_product": "product_key",
            "dim_invoice": "invoice_key",
        }[t]
        df = cat.table(t)
        rep.add(unique(df, key, table=t))
        rep.add(not_null(df, key, table=t))
    rep.add(accepted_range(cat.table("dim_datetime"), "weekday", 1, 7, table="dim_datetime"))
    rep.add(min_threshold(cat.table("dim_product"), "price", 0, table="dim_product"))
    rep.add(
        failed_rows(
            cat.table("fct_invoice_line_value"),
            "total_price < 0",
            table="fct_invoice_line_value",
        )
    )
    return rep


def check_report(cat) -> QualityReport:
    """check_report (checks/report/*.yml): non-null aggregates + positive
    activity minima."""
    rep = QualityReport()
    rc = cat.table("report_customer_invoices")
    for c in ("country", "total_invoices", "total_revenue"):
        rep.add(not_null(rc, c, table="report_customer_invoices"))
    rep.add(min_threshold(rc, "total_invoices", 1, table="report_customer_invoices"))
    rp = cat.table("report_product_invoices")
    rep.add(min_threshold(rp, "total_quantity_sold", 1, table="report_product_invoices"))
    ry = cat.table("report_year_invoices")
    rep.add(min_threshold(ry, "num_invoices", 0, table="report_year_invoices"))
    return rep


# ---------------------------------------------------------------------------
# Curation-tier gate (extension): the same fail-stop pattern applied to
# the training-data pipeline outputs — run after curation, before export.
# ---------------------------------------------------------------------------


def ratio_between(
    df: DataFrame, predicate: str, lo: float, hi: float, *, table: str
) -> CheckResult:
    """Fraction of rows matching ``predicate`` must lie in [lo, hi] —
    the alarm shape for rates (contamination %, sampling keep-rate) where
    both 0% and 100% usually mean an upstream bug, not a clean corpus."""
    total = df.count()
    n = df.filter(predicate).count()
    # An EMPTY table always fails: with lo=0.0 bands (e.g. contamination's
    # [0.0, 0.9]) a vacuous 0/0 "rate" would pass the gate even though an
    # upstream bug dropped every row — the opposite of fail-stop.
    if total == 0:
        return CheckResult(
            table,
            f"ratio({predicate}) in [{lo},{hi}]",
            False,
            "0/0 rows — empty input, rate undefined (fail-stop)",
        )
    frac = n / total
    ok = lo <= frac <= hi
    return CheckResult(
        table,
        f"ratio({predicate}) in [{lo},{hi}]",
        ok,
        f"{n}/{total} = {frac:.4f}",
    )


def check_curation(spark, sf_dir: str) -> QualityReport:
    """Fail-stop gate over the curation operators' outputs:

    - quality filters keep a sane fraction (not everything, not nothing),
    - contamination stays under an alarm ceiling and n_hits is consistent
      with the flag,
    - every document gets exactly one split assignment and one packing
      slot (conservation),
    - acceptance sampling's keep-rate stays inside its expected band.
    """
    from data_pipeline_4_online_retail_spark.operators import curation as C

    rep = QualityReport()

    qf = C.text_quality_filters(spark, sf_dir)
    rep.add(ratio_between(qf, "keep = 1", 0.05, 0.95, table="text_quality_filters"))
    rep.add(
        failed_rows(
            qf,
            "n_tokens <= 0 OR top_unigram_frac < 0 OR top_unigram_frac > 1",
            table="text_quality_filters",
        )
    )

    cont = C.text_contamination(spark, sf_dir)
    rep.add(ratio_between(cont, "contaminated = 1", 0.0, 0.9, table="text_contamination"))
    rep.add(
        failed_rows(
            cont,
            "(contaminated = 1 AND n_hits = 0) OR (contaminated = 0 AND n_hits > 0)",
            table="text_contamination",
        )
    )

    docs = C._docs(spark, sf_dir)
    n_docs = docs.count()

    split = C.text_split_assign(spark, sf_dir)
    n_split = split.count()
    rep.add(
        CheckResult(
            "text_split_assign",
            "one row per document",
            n_split == n_docs and split.select("doc_id").distinct().count() == n_docs,
            f"{n_split} rows / {n_docs} docs",
        )
    )

    packed = C.text_pack_sequences(spark, sf_dir)
    n_packed = packed.count()
    rep.add(
        CheckResult(
            "text_pack_sequences",
            "conservation: every doc packed exactly once",
            n_packed == n_docs
            and packed.select("doc_id").distinct().count() == n_docs,
            f"{n_packed} rows / {n_docs} docs",
        )
    )

    samp = C.text_quality_sample(spark, sf_dir)
    rep.add(ratio_between(samp, "sampled = 1", 0.05, 0.95, table="text_quality_sample"))

    # r4 gates ------------------------------------------------------------
    temp = C.text_temperature_sample(spark, sf_dir)
    prob_sum = temp.agg(F.sum("sample_prob")).head()[0]
    rep.add(
        CheckResult(
            "text_temperature_sample",
            "sampling distribution normalizes",
            abs(prob_sum - 1.0) < 1e-9,
            f"sum(sample_prob) = {prob_sum}",
        )
    )
    rep.add(
        failed_rows(
            temp,
            "boost <= 0 OR sample_prob <= 0 OR sample_prob >= 1",
            table="text_temperature_sample",
        )
    )

    spans = C.text_dup_span_removal(spark, sf_dir)
    # conservation: kept + dropped spans == ceil(tokens/SPAN_WORDS) per doc
    expected = docs.select(
        "doc_id",
        F.ceil(
            F.size(F.split("text", " ")) / F.lit(float(C.SPAN_WORDS))
        ).alias("n_spans"),
    )
    bad = (
        spans.join(expected, "doc_id")
        .filter(
            F.col("n_spans_kept") + F.col("n_spans_dropped") != F.col("n_spans")
        )
        .count()
    )
    n_spans = spans.count()
    rep.add(
        CheckResult(
            "text_dup_span_removal",
            "span conservation (kept + dropped = total)",
            bad == 0 and n_spans == n_docs,
            f"{bad} violations / {n_spans} docs",
        )
    )

    cap = C.text_source_cap(spark, sf_dir)
    over = (
        cap.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > C.SOURCE_CAP)
        .count()
    )
    rep.add(
        CheckResult(
            "text_source_cap",
            f"no source exceeds the cap ({C.SOURCE_CAP})",
            over == 0,
            f"{over} sources over cap",
        )
    )

    # r4c gates -----------------------------------------------------------
    from data_pipeline_4_online_retail_spark.operators import dedup as D
    from data_pipeline_4_online_retail_spark.operators import (
        events_windows as E,
    )
    from data_pipeline_4_online_retail_spark.operators import relational as R

    gs = R.op_group_sample_exact_k(spark, sf_dir)
    off_k = (
        gs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") != R.GROUP_SAMPLE_K)
        .count()
    )
    rep.add(
        CheckResult(
            "op_group_sample_exact_k",
            f"every group yields exactly k={R.GROUP_SAMPLE_K} rows",
            off_k == 0,
            f"{off_k} groups off-size",
        )
    )

    urls = D.dedup_url_canonicalize(spark, sf_dir)
    bad_keeper = urls.join(
        docs.select("doc_id"),
        urls.keeper_doc_id == F.col("doc_id"),
        "left_anti",
    ).count()
    rep.add(
        CheckResult(
            "dedup_url_canonicalize",
            "every keeper id exists in documents; groups are real dups",
            bad_keeper == 0 and urls.filter("n_dups < 2").count() == 0,
            f"{bad_keeper} dangling keepers",
        )
    )

    sess = E.ev_sessionize(spark, sf_dir)
    n_events = E._events(spark, sf_dir).count()
    got_events = sess.agg(F.sum("n_events")).head()[0]
    rep.add(
        CheckResult(
            "ev_sessionize",
            "session conservation: every event in exactly one session",
            got_events == n_events,
            f"{got_events} / {n_events} events",
        )
    )

    # r4d gates: the quality-evaluation reports become ENFORCEMENT — a
    # band-geometry or cell-count change that silently tanks index
    # quality now fails the pipeline instead of shipping a bad corpus.
    from data_pipeline_4_online_retail_spark.operators import similarity as S

    lsh = D.dedup_lsh_recall_report(spark, sf_dir).head()
    rep.add(
        CheckResult(
            "dedup_lsh_recall_report",
            "LSH recall >= 0.9 against exact Jaccard truth",
            lsh.lsh_recall >= 0.9,
            f"recall {lsh.lsh_recall:.3f} ({lsh.n_hits}/{lsh.n_true})",
        )
    )
    ann = S.sim_ann_recall_report(spark, sf_dir)
    worst = ann.agg(F.min("recall_at_k"), F.max("scan_fraction")).head()
    rep.add(
        CheckResult(
            "sim_ann_recall_report",
            "IVF pruning actually prunes (scan fraction < 0.5 per query)",
            worst[1] < 0.5,
            f"min recall {worst[0]:.2f}, max scan fraction {worst[1]:.3f}",
        )
    )
    return rep
