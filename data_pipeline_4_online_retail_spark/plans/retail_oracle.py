"""Driver-checkable queries for the literal reference pipeline.

The parity models (plans/retail.py) run on the deterministic fixture
(sources/fixtures.py), which doesn't exist in the driver's DuckDB views —
so each oracle inlines the fixture as a VALUES CTE and reimplements the
reference's dbt SQL chain (preprocess → dims → fact → reports) in ANSI
SQL. The driver then hash-compares our Spark models against an
independent SQL implementation of the same reference semantics: a full
end-to-end differential test of the ported pipeline.

Money sums cross engines via CAST(...AS DECIMAL(18,2)) of the final
aggregate — fixture revenues are exact 2-decimal grid points, so the cast
is stable while the models themselves keep the reference's raw double
arithmetic. The decimal is then cast to DOUBLE (and integer sums to
BIGINT) so driver-visible outputs stay pandas-native on both engines
(plans/star.py float discipline — DuckDB DECIMAL/HUGEINT pandas-convert
asymmetrically vs Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.keys import surrogate_key_sql
from data_pipeline_4_online_retail_spark.pipeline import run_retail_pipeline
from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.fixtures import RAW_INVOICE_ROWS, COUNTRY_FIXTURE_ROWS

_FMT = "%m/%d/%Y %I:%M %p"


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values(rows) -> str:
    return ",\n        ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)


# The fixture as SQL, typed to match the Spark schema (doubles, not the
# DECIMALs DuckDB would infer from the literals — the double→string
# rendering feeds the surrogate keys).
_RAW_CTE = f"""
raw_src(InvoiceNo, StockCode, Description, Quantity, InvoiceDate, UnitPrice, CustomerID, Country) AS (
    VALUES
        {_values(RAW_INVOICE_ROWS)}
),
raw_typed AS (
    SELECT InvoiceNo, StockCode, Description,
           CAST(Quantity AS INT) AS Quantity, InvoiceDate,
           CAST(UnitPrice AS DOUBLE) AS UnitPrice,
           CAST(CustomerID AS DOUBLE) AS CustomerID, Country
    FROM raw_src
),
raw_invoices AS (
    SELECT InvoiceNo, StockCode, Description, Quantity,
           strftime(MAX(try_strptime(InvoiceDate, '{_FMT}'))
                        OVER (PARTITION BY InvoiceNo), '{_FMT}') AS InvoiceDate,
           UnitPrice, CustomerID, Country
    FROM raw_typed
),
country(iso, iso3, numcode, phonecode, name) AS (
    VALUES
        {_values(COUNTRY_FIXTURE_ROWS)}
)
"""

_DIMS_CTE = f"""
dim_customer AS (
    SELECT c.customer_key, c.customer_id, c.country, cm.iso
    FROM (
        SELECT DISTINCT
            {surrogate_key_sql('CustomerID', 'Country')} AS customer_key,
            CustomerID AS customer_id,
            Country AS country
        FROM raw_invoices WHERE CustomerID IS NOT NULL) c
    LEFT JOIN country cm ON c.country = cm.name
),
dim_datetime AS (
    SELECT date_key, datetime_id, date_part AS datetime,
           CAST(year(date_part) AS INT) AS year,
           CAST(month(date_part) AS INT) AS month,
           CAST(day(date_part) AS INT) AS day,
           CAST(hour(date_part) AS INT) AS hour,
           CAST(minute(date_part) AS INT) AS minute,
           CAST(dayofweek(date_part) + 1 AS INT) AS weekday
    FROM (
        SELECT DISTINCT
            {surrogate_key_sql('InvoiceDate')} AS date_key,
            InvoiceDate AS datetime_id,
            strptime(InvoiceDate, '{_FMT}') AS date_part
        FROM raw_invoices WHERE InvoiceDate IS NOT NULL) q
),
dim_product AS (
    SELECT DISTINCT
        {surrogate_key_sql('StockCode', 'Description', 'UnitPrice')} AS product_key,
        StockCode AS stock_code,
        Description AS description,
        UnitPrice AS price
    FROM raw_invoices
    WHERE StockCode IS NOT NULL AND UnitPrice > 0
),
dim_invoice AS (
    SELECT t.invoice_key, t.invoiceno, t.invoicedate, dc.customer_key
    FROM (
        SELECT DISTINCT
            {surrogate_key_sql('InvoiceNo')} AS invoice_key,
            InvoiceNo AS invoiceno,
            InvoiceDate AS invoicedate,
            {surrogate_key_sql('CustomerID', 'Country')} AS customer_key
        FROM raw_invoices) t
    INNER JOIN dim_customer dc ON t.customer_key = dc.customer_key
),
fct_invoice_line_value AS (
    SELECT di.invoice_key, dt.date_key, dp.product_key, quantity, total_price
    FROM (
        SELECT
            {surrogate_key_sql('InvoiceNo')} AS invoice_key,
            {surrogate_key_sql('InvoiceDate')} AS date_key,
            {surrogate_key_sql('StockCode', 'Description', 'UnitPrice')} AS product_key,
            Quantity AS quantity,
            Quantity * UnitPrice AS total_price
        FROM raw_invoices WHERE Quantity > 0) fi
    INNER JOIN dim_datetime dt ON fi.date_key = dt.date_key
    INNER JOIN dim_product dp ON fi.product_key = dp.product_key
    INNER JOIN dim_invoice di ON fi.invoice_key = di.invoice_key
)
"""

_PIPELINE_CTE = f"WITH {_RAW_CTE.strip()},\n{_DIMS_CTE.strip()}"


_PIPELINE_CACHE: dict[int, object] = {}


def _built_catalog(spark: SparkSession):
    """One pipeline run (incl. quality gates) per SparkSession — the eight
    retail_* queries share the built catalog. The run persists its stage
    tables (``materialized: table``), but ``register`` releases them at
    the next builder's entry, so only the first retail_* query reads them
    materialized; later ones recompute through the lineage."""
    key = id(spark)
    if key not in _PIPELINE_CACHE:
        _PIPELINE_CACHE[key] = run_retail_pipeline(spark)
    return _PIPELINE_CACHE[key]


def _model_query(table: str, adapter=None):
    """A (spark, sf_dir)->DataFrame builder running the fixture pipeline
    (sf_dir-independent) and returning one built table."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _built_catalog(spark)
        df = cat.table(table)
        return adapter(df) if adapter else df

    return build


def _dec2(col: str):
    # decimal(18,2) snaps the double sum to the exact cent grid; the final
    # double cast keeps the driver-visible column pandas-native
    return F.col(col).cast("decimal(18,2)").cast("double").alias(col)


register(
    "retail_dim_customer",
    f"{_PIPELINE_CTE}\nSELECT customer_key, customer_id, country, iso FROM dim_customer",
    doc="reference parity e2e: dim_customer.sql over the fixture "
    "(oracle = independent SQL implementation of the same dbt chain)",
)(_model_query("dim_customer"))

register(
    "retail_dim_datetime",
    f"{_PIPELINE_CTE}\nSELECT * FROM dim_datetime",
    doc="reference parity e2e: dim_datetime.sql (weekday 1=Sun..7=Sat)",
)(_model_query("dim_datetime"))

register(
    "retail_dim_product",
    f"{_PIPELINE_CTE}\nSELECT * FROM dim_product",
    doc="reference parity e2e: dim_product.sql incl. null-sentinel keys",
)(_model_query("dim_product"))

register(
    "retail_dim_invoice",
    f"{_PIPELINE_CTE}\nSELECT * FROM dim_invoice",
    doc="reference parity e2e: dim_invoice.sql incl. the implicit "
    "null-customer drop (J2)",
)(_model_query("dim_invoice"))

register(
    "retail_fct_invoice_line_value",
    f"{_PIPELINE_CTE}\nSELECT * FROM fct_invoice_line_value",
    doc="reference parity e2e: fct_invoice_line_value.sql incl. the "
    "J3/J4/J5 implicit drops",
)(_model_query("fct_invoice_line_value"))

register(
    "retail_report_customer_invoices",
    f"""{_PIPELINE_CTE}
SELECT dc.country, dc.iso,
       COUNT(fi.invoice_key) AS total_invoices,
       CAST(CAST(SUM(fi.total_price) AS DECIMAL(18,2)) AS DOUBLE) AS total_revenue
FROM fct_invoice_line_value fi
JOIN dim_invoice di ON fi.invoice_key = di.invoice_key
JOIN dim_customer dc ON di.customer_key = dc.customer_key
GROUP BY dc.country, dc.iso
ORDER BY total_revenue DESC
LIMIT 10
""",
    doc="reference parity e2e: report_customer_invoices.sql (line-count "
    "semantics, revenue-desc top-10)",
)(
    _model_query(
        "report_customer_invoices",
        lambda df: df.select("country", "iso", "total_invoices", _dec2("total_revenue")),
    )
)

register(
    "retail_report_product_invoices",
    f"""{_PIPELINE_CTE}
SELECT p.product_key, p.stock_code, p.description,
       CAST(SUM(fi.quantity) AS BIGINT) AS total_quantity_sold
FROM fct_invoice_line_value fi
JOIN dim_product p ON fi.product_key = p.product_key
GROUP BY p.product_key, p.stock_code, p.description
ORDER BY total_quantity_sold DESC
LIMIT 10
""",
    doc="reference parity e2e: report_product_invoices.sql",
)(_model_query("report_product_invoices"))

register(
    "retail_report_year_invoices",
    f"""{_PIPELINE_CTE}
SELECT dt.year, dt.month,
       COUNT(DISTINCT fi.invoice_key) AS num_invoices,
       CAST(CAST(SUM(fi.total_price) AS DECIMAL(18,2)) AS DOUBLE) AS total_revenue
FROM fct_invoice_line_value fi
JOIN dim_datetime dt ON fi.date_key = dt.date_key
GROUP BY dt.year, dt.month
ORDER BY dt.year, dt.month
""",
    doc="reference parity e2e: report_year_invoices.sql",
)(
    _model_query(
        "report_year_invoices",
        lambda df: df.select("year", "month", "num_invoices", _dec2("total_revenue")),
    )
)
