"""Where a drain's phase times come from: Structured Streaming's own
progress events, collected by perfbench's ``StreamingQueryListener``
(``sparktrace.DrainListener``), which bench.py reads for its drain row."""

from __future__ import annotations

from perfbench.sparktrace import DrainListener

from streamline_hybrid_engine_spark.catalog import table_rows
from streamline_hybrid_engine_spark.registry import all_queries


def test_drain_listener_reports_every_micro_batch(spark, sf_dir):
    listener = DrainListener()
    spark.streams.addListener(listener)
    try:
        all_queries()["stream_tumble_1h"].fn(spark, sf_dir).collect()
        progress = listener.take()
    finally:
        spark.streams.removeListener(listener)
    assert len(progress) == 1, progress.keys()  # one drain, one run id
    batches = next(iter(progress.values()))
    assert [p["batchId"] for p in batches] == list(range(len(batches)))
    assert all("triggerExecution" in p["durationMs"] for p in batches)
    assert sum(p["numInputRows"] for p in batches) == table_rows(sf_dir, "events")
