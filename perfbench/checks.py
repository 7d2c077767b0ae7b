"""Output checks against independent DuckDB evaluations.

- Registry queries: each query's ``oracle_sql()`` runs in DuckDB over the
  generated parquet; the Spark rows must match it in row count, column
  names and the sorted canonical rows (doubles to 6 decimals).
- Retail reports: the reference chain's SQL from the engine's retail
  oracle runs over the generated CSV (decoded here, not by Spark) and the
  full ISO country seed; the reports the pipeline wrote as parquet must
  match. Top-10 reports accept any tie order at the cut.

Every check returns ``None`` when the output is correct, else a reason.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import os
import re
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def canon(v) -> str:
    """One value as a canonical string; doubles to 6 decimals."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, datetime) and v.tzinfo is not None:
        return str(v.astimezone(timezone.utc).replace(tzinfo=None))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(rows: list[tuple], cols: list[str]) -> list[str]:
    """Rows as canonical lines with columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def compare(got_cols, got_rows, want_cols, want_lines) -> str | None:
    """``None`` when the rows match the oracle's canonical lines."""
    if len(got_rows) != len(want_lines):
        return f"{len(got_rows)} rows, oracle has {len(want_lines)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    if canon_rows(got_rows, got_cols) != want_lines:
        return "values differ from oracle"
    return None


def compare_arrow(table: pa.Table, want_cols, want_lines) -> str | None:
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    return compare(table.column_names, rows, want_cols, want_lines)


def _connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    return con


def query_oracles(
    data_dir: str, tables: list[str], oracles: dict[str, str], work_dir: str
) -> dict[str, tuple[list[str], list[str]] | str]:
    """Run each oracle over the parquet tables: (columns, canonical lines),
    or the error text when DuckDB fails."""
    con = _connect(work_dir)
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, tuple[list[str], list[str]] | str] = {}
        for name, sql in oracles.items():
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                out[name] = (cols, canon_rows(res.fetchall(), cols))
            except duckdb.Error as exc:
                out[name] = f"oracle failed: {exc}"
        return out
    finally:
        con.close()


def cached_query_oracles(
    cache_dir: str, content_digest: str, data_dir: str, tables: list[str],
    oracles: dict[str, str], work_dir: str,
):
    """``query_oracles``, memoized on disk by the table content, the oracle
    SQL, the DuckDB version and this module's source (which holds
    ``canon``). The workload seed only reorders rows, and every oracle is
    order-insensitive, so seeds share one entry. The curation oracles take
    about 20 s of DuckDB on four cores, which the cache saves on every run
    after the first in a checkout."""
    with open(__file__, "rb") as fh:
        source = hashlib.sha256(fh.read()).hexdigest()
    key = hashlib.sha256(
        json.dumps([content_digest, oracles, duckdb.__version__, source], sort_keys=True).encode()
    ).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return {k: v if isinstance(v, str) else tuple(v) for k, v in json.load(fh).items()}
    out = query_oracles(data_dir, tables, oracles, work_dir)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


# ---------------------------------------------------------------------------
# Retail reports
# ---------------------------------------------------------------------------

# The raw-file load and the pandas date canonicalization
# (dags/online_retail.py:34-50), over the CSV table registered below.
_RAW_INVOICES = """
raw_invoices AS (
    SELECT InvoiceNo, StockCode, Description, Quantity,
           strftime(MAX(coalesce(try_strptime(InvoiceDate, '%m/%d/%Y %I:%M %p'),
                                 try_strptime(InvoiceDate, '%m/%d/%Y %H:%M')))
                        OVER (PARTITION BY InvoiceNo), '%m/%d/%Y %I:%M %p') AS InvoiceDate,
           UnitPrice, CustomerID, Country
    FROM raw_csv
),
country AS (
    SELECT iso, iso3, numcode, phonecode, nicename AS name FROM country_seed
),
"""

# report -> (column ordering the report's LIMIT cuts on, or None)
RETAIL_REPORTS = {
    "report_customer_invoices": "total_revenue",
    "report_product_invoices": "total_quantity_sold",
    "report_year_invoices": None,
}


def _csv_table(path: str) -> pa.Table:
    cols: dict[str, list] = {k: [] for k in (
        "InvoiceNo", "StockCode", "Description", "Quantity",
        "InvoiceDate", "UnitPrice", "CustomerID", "Country",
    )}
    with open(path, encoding="iso-8859-1", newline="") as fh:
        reader = csv.reader(fh)
        next(reader)
        for inv, stock, desc, qty, date, price, cust, country in reader:
            cols["InvoiceNo"].append(inv)
            cols["StockCode"].append(stock or None)
            cols["Description"].append(desc or None)
            cols["Quantity"].append(int(qty))
            cols["InvoiceDate"].append(date or None)
            cols["UnitPrice"].append(float(price))
            cols["CustomerID"].append(float(cust) if cust else None)
            cols["Country"].append(country)
    return pa.table({
        **cols,
        "Quantity": pa.array(cols["Quantity"], pa.int32()),
        "UnitPrice": pa.array(cols["UnitPrice"], pa.float64()),
        "CustomerID": pa.array(cols["CustomerID"], pa.float64()),
    })


def _reference_sql(oracle: str) -> str:
    """The engine's fixture oracle with its VALUES sources swapped for the
    CSV and the country seed, and its final LIMIT dropped."""
    body = oracle[oracle.index("dim_customer AS ("):]
    return "WITH " + _RAW_INVOICES + re.sub(r"\s+LIMIT\s+\d+\s*$", "", body.strip())


def retail_expected(
    csv_path: str, country_rows: list[tuple], oracles: dict[str, str], work_dir: str
) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each report's full ordered result under the reference chain."""
    con = _connect(work_dir)
    try:
        raw_csv = _csv_table(csv_path)
        con.register("raw_csv", raw_csv)
        con.execute(
            "CREATE TABLE country_seed(id INT, iso VARCHAR, name VARCHAR, "
            "nicename VARCHAR, iso3 VARCHAR, numcode INT, phonecode INT)"
        )
        con.executemany("INSERT INTO country_seed VALUES (?, ?, ?, ?, ?, ?, ?)", country_rows)
        out = {}
        for report in RETAIL_REPORTS:
            res = con.execute(_reference_sql(oracles[f"retail_{report}"]))
            out[report] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_report(out_dir: str, report: str, expected) -> str | None:
    """Compare the report the pipeline wrote under ``out_dir`` with the
    reference result; a top-10 report may break ties at the cut either way."""
    table = pq.read_table(os.path.join(out_dir, report))
    got_cols = table.column_names
    got_rows = [tuple(r.values()) for r in table.to_pylist()]
    want_cols, want_rows = expected
    key = RETAIL_REPORTS[report]
    if key is None:
        return compare(got_cols, got_rows, want_cols, canon_rows(want_rows, want_cols))
    top = want_rows[:10]
    if len(got_rows) != len(top):
        return f"{len(got_rows)} rows, oracle has {len(top)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    known = set(canon_rows(want_rows, want_cols))
    if not set(canon_rows(got_rows, got_cols)) <= known:
        return "rows absent from the reference result"
    gi, wi = got_cols.index(key), want_cols.index(key)
    if sorted(canon(r[gi]) for r in got_rows) != sorted(canon(r[wi]) for r in top):
        return f"top-10 {key} values differ from the reference"
    return None
