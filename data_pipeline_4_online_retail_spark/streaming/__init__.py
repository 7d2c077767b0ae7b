"""Structured Streaming surface (SURVEY.md §2.10 extension tier).

The reference is pure batch; this package adds the streaming operators a
large-scale event pipeline needs, built on ``readStream`` → windowed
aggregation → ``writeStream``:

- ``windows``   tumbling / hopping / session window aggregations with
                watermark-based late-data handling
- ``stateful``  custom per-key state machines via applyInPandasWithState
- ``tws``       the sessionization state machine on transformWithState
                (named state variables, per-key timers, TTL)
- ``dedup``     incremental near-duplicate detection against a persistent
                MinHash LSH bucket index
- ``scd2``      Type-2 SCD dimension maintained per micro-batch via
                foreachBatch
- ``sinks``     idempotent keyed upsert (MERGE) sink via foreachBatch
- ``agg_maintenance``  replay-safe fold of each micro-batch's partial
                aggregate into a stored rollup

Batch twins of these plans live in operators/events_windows.py and are
oracle-checked; the streaming tests assert stream == batch on the same
input (tests/test_streaming.py).
"""

from data_pipeline_4_online_retail_spark.streaming.windows import (
    read_events_stream,
    tumbling_counts,
    hopping_counts,
    session_counts,
    run_available_now,
)

__all__ = [
    "read_events_stream",
    "tumbling_counts",
    "hopping_counts",
    "session_counts",
    "run_available_now",
]
