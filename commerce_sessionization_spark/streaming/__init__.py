"""Structured Streaming surface of the engine.

The reference's incrementality is Airflow-driven hourly micro-batching
(``airflow/dags/sessionization_batch.py:12,36-39``); this package is the
stream-native equivalent per SURVEY §2.8/§7.2: ``session_window`` gap
aggregation with watermarked late-data handling, and one stateful per-event
sessionizer (``sessionize_stream_stateful``) whose session ids equal the
batch operator's when each user's events arrive in time order.
"""

from commerce_sessionization_spark.streaming.cdc_stream import (
    make_cdc_writer,
    read_cdc_snapshot,
)
from commerce_sessionization_spark.streaming.dedup import dedup_stream
from commerce_sessionization_spark.streaming.joins import (
    attribute_purchases,
    enrich_stream,
)
from commerce_sessionization_spark.streaming.sessionize_stream import (
    read_events_stream,
    sessionize_stream_stateful,
    sessionize_stream_window,
)
from commerce_sessionization_spark.streaming.windows import windowed_counts

__all__ = [
    "attribute_purchases",
    "dedup_stream",
    "make_cdc_writer",
    "read_cdc_snapshot",
    "enrich_stream",
    "read_events_stream",
    "sessionize_stream_stateful",
    "sessionize_stream_window",
    "windowed_counts",
]
