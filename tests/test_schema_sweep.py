"""Analysis-time regression net (VERDICT r3 items 1/3).

The r3 round lost its entire bench to a single AnalysisException raised
at plan time (`unix_micros` over a TIMESTAMP_NTZ `ts`). Here the catalog
must normalize every physical timestamp shape the testdata has ever
shipped (nanos-as-long, µs-NTZ) to plain TIMESTAMP, and the query that
broke runs end to end. That every registered query analyzes and runs is
checked by the one registry sweep, `tests/test_cache_registry.py`.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR


def test_events_ts_normalized_to_timestamp(catalog):
    """events.ts must be TIMESTAMP (not NTZ, not long) after load_tables.

    The parquet stores timestamp[us] with no UTC flag; pyspark 4.x reads
    that as TIMESTAMP_NTZ, which TIMESTAMP-only functions (unix_micros,
    to_utc_timestamp) reject at analysis time. The UTC-pinned session
    makes the normalizing cast wall-clock-exact.
    """
    dtypes = dict(catalog.table("events").dtypes)
    assert dtypes["ts"] == "timestamp", dtypes["ts"]


def test_no_ntz_columns_in_any_catalog_table(catalog):
    """No table may expose an NTZ column: any TIMESTAMP-only function
    added later over any of them would break the same way ev_asof_join
    did in r3."""
    offenders = {
        name: [c for c, t in catalog.table(name).dtypes if t == "timestamp_ntz"]
        for name in catalog.names()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, offenders


@pytest.mark.parametrize("query", ["ev_asof_join"])
def test_asof_join_executes_on_driver_shaped_events(spark, query):
    """Direct regression pin for the r3 red: the exact query that broke,
    end-to-end on the real testdata shape (not a synthetic fixture)."""
    df = entry.queries()[query](spark, SF_DIR)
    rows = df.limit(5).collect()
    assert {"click_event", "user_id", "click_ts", "last_error_ts", "gap_us"} <= set(
        df.columns
    )
    assert len(rows) > 0


# The r7 window deliberately spends slots on the rows-only tier: VERDICT
# r6 item 1 rotates the never-driver-checked backlog — 11 rows-only
# members at composition time, 9 after the mid-round promotions of
# sim_mmr_rerank and dedup_semantic_within_label_fast to full oracles —
# into the window so EVERY registration has some driver record (hash
# rows for the oracled, rows-only for these).
# r8/r9: empty — those windows fronted stale records that all carry
# full DuckDB oracles. r10: the ring's stalest tier (r3) includes the
# two rows-only multimodal fakes, which VERDICT r9 item 3 explicitly
# rotates in — their byte-exact replica pytests remain the strong
# check; the driver row refreshes staleness. The other 5 rows-only
# registrations (emb_pca_project, text_bpe_apply, mm_ppm_resize,
# op_agg_approx_distinct_raw, op_percentiles_approx_raw) sit OUTSIDE
# the window; each keeps its replica/bound pytest.
# r11: empty again — the window fronts the r4/r5 stale tiers plus the
# post-bloom q17/q02 re-proofs, all of which carry full DuckDB oracles
# (the 7 rows-only registrations all sit outside the window with their
# replica/bound pytests).
_EXPECTED_ROWS_ONLY_SLOTS: set[str] = set()


def test_driver_window_integrity():
    """The first 50 registrations ARE the documented priority window, in
    order, and every rows-only slot is one the window DOCUMENTS as such
    (an undocumented rows-only slot would silently waste a hash check)."""
    import __spark_entry__ as entry
    from __spark_entry__ import _DRIVER_PRIORITY

    names = list(entry.queries())
    assert names[:50] == _DRIVER_PRIORITY
    oracles = entry.oracle_sql()
    rows_only = {n for n in _DRIVER_PRIORITY if n not in oracles}
    assert rows_only == _EXPECTED_ROWS_ONLY_SLOTS, rows_only
