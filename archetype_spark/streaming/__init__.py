"""Structured Streaming lift (SURVEY §7 phase 7).

The reference has NO streaming surface: its step loop
(reference world.py:23-33) is a synchronous micro-batch loop with no
watermarks, event-time windows, or late-data handling (SURVEY §2.2,
"Streaming-only: None"). This package supplies the Spark-native lift:

- windows.py: event-time tumbling / sliding / session windows with
  watermarks — the same builders serve batch DataFrames (oracle-
  testable vs DuckDB) and streaming DataFrames (watermark applied).
- world_stream.py: `foreachBatch` driver that turns an event stream
  into simulation steps — each micro-batch spawns/updates entities
  and advances the world clock, making the ECS engine a continuous
  ingestion target.
- stateful.py: per-key custom state via applyInPandasWithState —
  the streaming analogue of a Processor that needs memory across
  micro-batches.
- lake_source.py: the lake formats as STREAMING SOURCES — a file
  stream over each table's commit log triggering the idempotent
  batch replication face, so a continuous cross-format mirror is
  readStream -> foreachBatch(replicate), exactly-once via the
  mirror's own mark.
"""

from archetype_spark.streaming.lake_source import (
    read_lake_commits_stream,
    stream_replicate,
)
from archetype_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
    with_watermark,
)

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "with_watermark",
    "read_lake_commits_stream",
    "stream_replicate",
]
