"""Schema-first sources and sinks.

- ``schemas``      declared StructTypes for every table (no inferSchema in
                   production paths — SURVEY.md §1.3)
- ``io``           CSV/parquet/JSONL/ORC/XML readers and overwrite sinks
- ``catalog``      named-source registry (the dbt ``source()``/``ref()``
                   equivalent) over the /root/testdata star schema
- ``country_seed`` the static country lookup (reference
                   include/table/country.sql) built as a LocalRelation
- ``fixtures``     deterministic raw_invoices/country fixtures for parity
                   tests (FIXTURES.md §A)
"""

from data_pipeline_4_online_retail_spark.sources.catalog import Catalog, load_tables
from data_pipeline_4_online_retail_spark.sources.io import read_csv, read_parquet

__all__ = ["Catalog", "load_tables", "read_csv", "read_parquet"]
