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


def test_driver_order_rule():
    """Never-checked before red, red before green whatever the rounds,
    the latest row decides red or green, staler greens first, rows-only
    queries last (even never-checked ones), ties in input order."""
    green, red = {"hash_match": True}, {"hash_match": False}
    names = ["rows_only", "green_r6_b", "red_r12", "fixed", "green_r6_a", "new", "newer"]
    oracled = set(names) - {"rows_only"}
    records = {
        12: {"red_r12": red, "fixed": green, "gone": red},
        6: {"green_r6_b": green, "green_r6_a": green, "fixed": red},
    }
    assert entry.driver_order(names, oracled, records) == [
        "new", "newer", "red_r12", "green_r6_b", "green_r6_a", "fixed", "rows_only",
    ]
    assert entry.driver_order(names, oracled, {}) == [*names[1:], "rows_only"]


def test_driver_window_comes_from_committed_records():
    """On the committed records the window holds DRIVER_WINDOW distinct
    oracled queries, among them every oracled query never checked or
    last checked in the stalest round (r6 when this test was written)."""
    window = list(entry.queries())[: entry.DRIVER_WINDOW]
    oracles = entry.oracle_sql()
    assert len(set(window)) == entry.DRIVER_WINDOW
    assert all(n in oracles for n in window)
    last_round = {}
    for rnd in sorted(entry._RECORDS):
        last_round.update(dict.fromkeys(entry._RECORDS[rnd], rnd))
    stalest = min(last_round[n] for n in oracles if n in last_round)
    due = {n for n in oracles if last_round.get(n, stalest) == stalest}
    assert due <= set(window), sorted(due - set(window))
