"""Data-quality checks + fail-stop gate runner — the Soda surface
(include/soda/check_function.py, include/soda/checks/**).

A check is a value, not an action: a name, one aggregate ``Column``, a
pass rule and a detail formatter. ``gate`` evaluates all of one table's
checks, plus its row count, in a single ``df.agg(...).first()`` — one pass
over the table's lineage, like the reference's one checks file per table.
A stage gate raises ``QualityGateError`` before downstream stages run (the
reference's ``raise ValueError('Soda Scan failed')`` semantics,
check_function.py:19-23).

Check vocabulary (SURVEY.md §2.6 A7, §2.9 F10/F11):
- ``schema_check``     required columns + types (schema contracts, e.g.
                       checks/sources/raw_invoices.yml:2-12); runs no job
- ``not_null``         count_if(col IS NULL) = 0
- ``unique``           duplicate rows = 0, NULL counted as one value
- ``accepted_range``   count_if(col outside [lo, hi] or NULL) = 0
- ``min_threshold``    min(col) ≥ bound (an empty table fails)
- ``failed_rows``      count_if(predicate) = 0
                       (fct_invoice_line_value.yml:13-18)
- ``ratio_between``    count_if(predicate) / count(1) in [lo, hi]
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
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
    rows: dict[str, int] = field(default_factory=dict)
    seconds: dict[str, float] = field(default_factory=dict)

    def add(self, r: CheckResult) -> None:
        self.results.append(r)

    def extend(self, other: "QualityReport") -> None:
        self.results.extend(other.results)
        self.rows.update(other.rows)
        self.seconds.update(other.seconds)

    @property
    def failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed]

    def raise_on_failure(self) -> None:
        if self.failures:
            lines = "; ".join(f"{r.table}.{r.check}: {r.detail}" for r in self.failures)
            raise QualityGateError(f"quality gate failed: {lines}")


@dataclass(frozen=True)
class Check:
    """``agg`` is a whole-table aggregate; ``ok`` and ``detail`` read its value."""

    name: str
    agg: Column
    ok: Callable[[Any], bool]
    detail: Callable[[Any], str]


def gate(df: DataFrame, checks: list[Check], *, table: str) -> QualityReport:
    """All of ``table``'s checks and its row count in one aggregate action.
    ``seconds`` times that action; over a persisted stage table it is the
    action that materializes it, so it is the table's build time too."""
    start = time.perf_counter()
    values = df.agg(
        F.count(F.lit(1)), *(c.agg.alias(f"c{i}") for i, c in enumerate(checks))
    ).first()
    rep = QualityReport(
        rows={table: values[0]}, seconds={table: time.perf_counter() - start}
    )
    for c, v in zip(checks, values[1:]):
        rep.add(CheckResult(table, c.name, c.ok(v), c.detail(v)))
    return rep


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


def _zero(name: str, count: Column, what: str) -> Check:
    return Check(name, count, lambda n: n == 0, lambda n: f"{n} {what}")


def not_null(col: str) -> Check:
    return _zero(f"not_null({col})", F.count_if(F.col(col).isNull()), "nulls")


def unique(col: str) -> Check:
    """Rows beyond the first per value. NULL counts as one value, as in
    ``GROUP BY``, so a second NULL is a duplicate; an empty table has 0."""
    c = F.col(col)
    dups = F.count(c) - F.count_distinct(c) + F.greatest(F.count_if(c.isNull()) - 1, F.lit(0))
    return _zero(f"unique({col})", dups, "duplicate rows")


def accepted_range(col: str, lo, hi) -> Check:
    bad = F.count_if(~F.col(col).between(lo, hi) | F.col(col).isNull())
    return _zero(f"accepted_range({col},[{lo},{hi}])", bad, "out of range")


def min_threshold(col: str, bound) -> Check:
    return Check(
        f"min({col})>={bound}",
        F.min(col),
        lambda v: v is not None and v >= bound,
        lambda v: f"min={v}",
    )


def failed_rows(predicate: str) -> Check:
    return _zero(f"failed_rows({predicate})", F.count_if(F.expr(predicate)), "rows")


def ratio_between(predicate: str, lo: float, hi: float) -> Check:
    """Fraction of rows matching ``predicate`` must lie in [lo, hi] —
    the alarm shape for rates (contamination %, sampling keep-rate) where
    both 0% and 100% usually mean an upstream bug, not a clean corpus.

    An EMPTY table always fails: with lo=0.0 bands (e.g. contamination's
    [0.0, 0.9]) a vacuous 0/0 "rate" would pass the gate even though an
    upstream bug dropped every row — the opposite of fail-stop."""
    return Check(
        f"ratio({predicate}) in [{lo},{hi}]",
        F.struct(F.count_if(F.expr(predicate)), F.count(F.lit(1))),
        lambda v: v[1] > 0 and lo <= v[0] / v[1] <= hi,
        lambda v: f"{v[0]}/{v[1]} = {v[0] / v[1]:.4f}"
        if v[1]
        else "0/0 rows — empty input, rate undefined (fail-stop)",
    )


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


def _gate_tables(
    frame: Callable[[str], DataFrame], checks: dict[str, list[Check]]
) -> QualityReport:
    rep = QualityReport()
    for table, table_checks in checks.items():
        rep.extend(gate(frame(table), table_checks, table=table))
    return rep


def check_transform(cat) -> QualityReport:
    """check_transform (checks/transform/*.yml): key uniqueness +
    non-nullness per dim, weekday range, price min, fact failed-rows.

    Documented deviation: the reference asserts weekday ∈ [0, 6]
    (dim_datetime.yml:9-12) while its own data is BigQuery DAYOFWEEK
    1..7 — every Saturday fails in the reference. We keep the 1..7 data
    semantics and check the range that matches them (SURVEY.md §2.9 F5).
    """

    def key(col: str) -> list[Check]:
        return [unique(col), not_null(col)]

    return _gate_tables(
        cat.table,
        {
            "dim_customer": key("customer_key"),
            "dim_datetime": key("date_key") + [accepted_range("weekday", 1, 7)],
            "dim_product": key("product_key") + [min_threshold("price", 0)],
            "dim_invoice": key("invoice_key"),
            "fct_invoice_line_value": [failed_rows("total_price < 0")],
        },
    )


def check_report(cat) -> QualityReport:
    """check_report (checks/report/*.yml): non-null aggregates + positive
    activity minima."""
    return _gate_tables(
        cat.table,
        {
            "report_customer_invoices": [
                not_null(c) for c in ("country", "total_invoices", "total_revenue")
            ]
            + [min_threshold("total_invoices", 1)],
            "report_product_invoices": [min_threshold("total_quantity_sold", 1)],
            "report_year_invoices": [min_threshold("num_invoices", 0)],
        },
    )


# ---------------------------------------------------------------------------
# Curation-tier gate (extension): the same fail-stop pattern applied to
# the training-data pipeline outputs — run after curation, before export.
# ---------------------------------------------------------------------------


def check_curation(spark, sf_dir: str) -> QualityReport:
    """Fail-stop gate over the curation operators' outputs:

    - quality filters keep a sane fraction (not everything, not nothing),
    - contamination stays under an alarm ceiling and n_hits is consistent
      with the flag,
    - every document gets exactly one split assignment and one packing
      slot, every span and event is accounted for (conservation),
    - sampling keep-rates and per-source caps stay inside their bands,
    - the LSH and IVF quality reports stay above their floors.

    Each table is one ``gate``; a table whose check needs a join or a
    group-by is gated over that derived frame.
    """
    from data_pipeline_4_online_retail_spark.operators import curation as C
    from data_pipeline_4_online_retail_spark.operators import dedup as D
    from data_pipeline_4_online_retail_spark.operators import events_windows as E
    from data_pipeline_4_online_retail_spark.operators import relational as R
    from data_pipeline_4_online_retail_spark.operators import similarity as S

    docs = C._docs(spark, sf_dir)
    n_docs = docs.count()
    n_events = E._events(spark, sf_dir).count()

    def one_row_per_doc(name: str) -> Check:
        return Check(
            name,
            F.struct(F.count(F.lit(1)), F.count_distinct("doc_id")),
            lambda v: v[0] == v[1] == n_docs,
            lambda v: f"{v[0]} rows / {n_docs} docs",
        )

    def with_span_total(spans: DataFrame) -> DataFrame:
        # a document's spans: ceil(tokens / SPAN_WORDS)
        total = F.ceil(F.size(F.split("text", " ")) / F.lit(float(C.SPAN_WORDS)))
        return spans.join(docs.select("doc_id", total.alias("n_spans")), "doc_id", "left")

    def with_keeper_doc(urls: DataFrame) -> DataFrame:
        found = docs.select(F.col("doc_id").alias("keeper_found"))
        return urls.join(found, urls.keeper_doc_id == found.keeper_found, "left")

    def per_source(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias("n"))

    module = {
        "op_group_sample_exact_k": R,
        "dedup_url_canonicalize": D,
        "ev_sessionize": E,
        "dedup_lsh_recall_report": D,
        "sim_ann_recall_report": S,
    }
    derive = {
        "text_dup_span_removal": with_span_total,
        "text_source_cap": per_source,
        "op_group_sample_exact_k": per_source,
        "dedup_url_canonicalize": with_keeper_doc,
    }

    def frame(table: str) -> DataFrame:
        df = getattr(module.get(table, C), table)(spark, sf_dir)
        return derive[table](df) if table in derive else df

    return _gate_tables(
        frame,
        {
            "text_quality_filters": [
                ratio_between("keep = 1", 0.05, 0.95),
                failed_rows("n_tokens <= 0 OR top_unigram_frac < 0 OR top_unigram_frac > 1"),
            ],
            "text_contamination": [
                ratio_between("contaminated = 1", 0.0, 0.9),
                failed_rows(
                    "(contaminated = 1 AND n_hits = 0) OR (contaminated = 0 AND n_hits > 0)"
                ),
            ],
            "text_split_assign": [one_row_per_doc("one row per document")],
            "text_pack_sequences": [
                one_row_per_doc("conservation: every doc packed exactly once")
            ],
            "text_quality_sample": [ratio_between("sampled = 1", 0.05, 0.95)],
            "text_temperature_sample": [
                Check(
                    "sampling distribution normalizes",
                    F.sum("sample_prob"),
                    lambda v: v is not None and abs(v - 1.0) < 1e-9,
                    lambda v: f"sum(sample_prob) = {v}",
                ),
                failed_rows("boost <= 0 OR sample_prob <= 0 OR sample_prob >= 1"),
            ],
            "text_dup_span_removal": [
                Check(
                    "span conservation (kept + dropped = total)",
                    F.struct(
                        F.count_if(
                            F.col("n_spans_kept") + F.col("n_spans_dropped")
                            != F.col("n_spans")
                        ),
                        F.count(F.lit(1)),
                    ),
                    lambda v: v[0] == 0 and v[1] == n_docs,
                    lambda v: f"{v[0]} violations / {v[1]} docs",
                )
            ],
            "text_source_cap": [
                _zero(
                    f"no source exceeds the cap ({C.SOURCE_CAP})",
                    F.count_if(F.col("n") > C.SOURCE_CAP),
                    "sources over cap",
                )
            ],
            "op_group_sample_exact_k": [
                _zero(
                    f"every group yields exactly k={R.GROUP_SAMPLE_K} rows",
                    F.count_if(F.col("n") != R.GROUP_SAMPLE_K),
                    "groups off-size",
                )
            ],
            "dedup_url_canonicalize": [
                Check(
                    "every keeper id exists in documents; groups are real dups",
                    F.struct(
                        F.count_if(F.col("keeper_found").isNull()),
                        F.count_if(F.col("n_dups") < 2),
                    ),
                    lambda v: v[0] == 0 and v[1] == 0,
                    lambda v: f"{v[0]} dangling keepers",
                )
            ],
            "ev_sessionize": [
                Check(
                    "session conservation: every event in exactly one session",
                    F.sum("n_events"),
                    lambda v: v == n_events,
                    lambda v: f"{v} / {n_events} events",
                )
            ],
            # The quality-evaluation reports are enforced too: a band-geometry
            # or cell-count change that tanks index quality fails the gate.
            "dedup_lsh_recall_report": [
                Check(
                    "LSH recall >= 0.9 against exact Jaccard truth",
                    # the report is one row
                    F.struct(F.first("lsh_recall"), F.first("n_hits"), F.first("n_true")),
                    lambda v: v[0] >= 0.9,
                    lambda v: f"recall {v[0]:.3f} ({v[1]}/{v[2]})",
                )
            ],
            "sim_ann_recall_report": [
                Check(
                    "IVF pruning actually prunes (scan fraction < 0.5 per query)",
                    F.struct(F.min("recall_at_k"), F.max("scan_fraction")),
                    lambda v: v[1] < 0.5,
                    lambda v: f"min recall {v[0]:.2f}, max scan fraction {v[1]:.3f}",
                )
            ],
        },
    )
