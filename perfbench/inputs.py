"""Seeded benchmark inputs: an Online-Retail-shaped CSV and the warehouse /
curation parquet tables.

Every input is a pure function of the workload seed, so one seed always
gives the same bytes. Generation runs before any timing starts.

- ``write_retail_csv`` keeps the quirks of the genuine UCI file: latin-1
  text, ``C``-prefixed cancellations with negative quantities, about 25%
  NULL CustomerID, NULL descriptions, unpadded 24-hour dates and about 1%
  of invoice lines whose timestamp is skewed by a few minutes. Products come
  from a fixed catalogue so reports aggregate many lines per product.
- ``write_tables`` builds the TPC-H-ish star tables plus ``events``,
  ``documents`` and ``embeddings`` with the engine's fixture schemas, one
  parquet file and one row group per table. Table content is fixed (base
  seed 42, at the row counts of the sf0.01 fixtures); the workload seed
  changes only the row order.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Rows per table, the sf0.01 fixture sizes.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

RETAIL_ROWS = 2000

_COUNTRIES = [
    *(["United Kingdom"] * 60),
    "Germany", "France", "EIRE", "Spain", "Netherlands", "Belgium",
    "Switzerland", "Portugal", "Australia", "Norway", "Italy",
    "Channel Islands", "Finland", "Cyprus", "Sweden", "Unspecified",
    "Austria", "Denmark", "Japan", "Poland", "Israel", "USA",
    "Hong Kong", "Singapore", "Iceland", "Canada", "Greece", "Malta",
    "United Arab Emirates", "European Community", "RSA", "Lebanon",
    "Lithuania", "Brazil", "Czech Republic", "Bahrain", "Saudi Arabia",
]

_DESCRIPTIONS = [
    "WHITE HANGING HEART T-LIGHT HOLDER",
    "JUMBO BAG RED RETROSPOT",
    "REGENCY CAKESTAND 3 TIER",
    "PARTY BUNTING",
    "LUNCH BAG RED RETROSPOT",
    "ASSORTED COLOUR BIRD ORNAMENT",
    "SET OF 3 CAKE TINS PANTRY DESIGN",
    "PAPER CHAIN KIT 50'S CHRISTMAS",
    "CAF\xc9 AU LAIT MUG",
    "JARDIN ETCH\xc9 GLASS TUMBLER",
    None,
]

_RETAIL_HEADER = [
    "InvoiceNo", "StockCode", "Description", "Quantity",
    "InvoiceDate", "UnitPrice", "CustomerID", "Country",
]


def write_retail_csv(path: str, seed: int, n_rows: int = RETAIL_ROWS) -> None:
    """Write ``n_rows`` invoice lines to ``path`` (iso-8859-1, headered)."""
    rng = random.Random(seed)
    catalogue = [
        (str(10000 + i), rng.choice(_DESCRIPTIONS), round(rng.uniform(0.0, 18.0), 2))
        for i in range(400)
    ]
    start = datetime(2010, 12, 1, 8, 26)
    with open(path, "w", encoding="iso-8859-1", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(_RETAIL_HEADER)
        written = 0
        invoice_no = 536365
        while written < n_rows:
            n_lines = min(rng.randint(1, 12), n_rows - written)
            cancelled = rng.random() < 0.017
            inv = f"C{invoice_no}" if cancelled else str(invoice_no)
            ts = start + timedelta(minutes=rng.randint(0, 60 * 24 * 373))
            country = rng.choice(_COUNTRIES)
            cust = rng.randint(12346, 18287) if rng.random() > 0.25 else None
            for _ in range(n_lines):
                line_ts = ts
                if rng.random() < 0.01:
                    line_ts = ts + timedelta(minutes=rng.randint(1, 9))
                qty = -rng.randint(1, 24) if cancelled else rng.randint(1, 48)
                stock, desc, price = rng.choice(catalogue)
                raw_date = (
                    f"{line_ts.month}/{line_ts.day}/{line_ts.year} "
                    f"{line_ts.hour}:{line_ts.minute:02d}"
                )
                w.writerow([inv, stock, desc, qty, raw_date, price, cust, country])
                written += 1
            invoice_no += 1


# ---------------------------------------------------------------------------
# Parquet tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter group big stream vector"
).split()
_LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables() -> dict[str, pa.Table]:
    """The fixed table content, in key order."""
    rng = np.random.default_rng(BASE_SEED)
    n = TABLE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    np_ = n["part"]
    adjectives = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
    nouns = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_
        ),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, 0, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, 1, 2499),
    })
    ne = n["events"]
    gaps = rng.exponential(259e6, ne).astype(np.int64)  # ~4.3 min in us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; about 4% are exact copies and 6% near copies
    (one word changed) of an earlier document, so the dedup paths find
    work."""
    texts: list[str] = []
    for k in range(n):
        roll = rng.random()
        if k > 10 and roll < 0.04:
            texts.append(texts[rng.integers(0, k)])
        elif k > 10 and roll < 0.10:
            words = texts[rng.integers(0, k)].split()
            words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(10, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around one centre per label (10 labels)."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, names: list[str], seed: int) -> str:
    """Write each table in ``names`` to ``out_dir/<name>.parquet``, rows in
    an order drawn from ``seed``. Returns a digest of the content, which
    the seed does not change."""
    os.makedirs(out_dir, exist_ok=True)
    base = _base_tables()
    digest = hashlib.sha256()
    for name in names:
        table = base[name]
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        digest.update(name.encode())
        digest.update(sink.getvalue().to_pybytes())
        order = np.random.default_rng([seed, len(name), sum(map(ord, name))]).permutation(
            table.num_rows
        )
        pq.write_table(
            table.take(pa.array(order)),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=table.num_rows,
            compression="snappy",
        )
    return digest.hexdigest()


def file_stats(paths: list[str]) -> tuple[int, int]:
    """(rows, bytes) over CSV or parquet input files."""
    rows = size = 0
    for p in paths:
        size += os.path.getsize(p)
        if p.endswith(".parquet"):
            rows += pq.ParquetFile(p).metadata.num_rows
        else:
            with open(p, "rb") as fh:
                rows += sum(1 for _ in fh) - 1
    return rows, size
