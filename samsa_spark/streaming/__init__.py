"""Streaming surface: the samsa API proper, rebuilt on Structured Streaming.

The reference's entire machinery — stateful consumer (storage.py:17-253),
changelog replication (storage.py:129-149), partition-rebalance recovery
(storage.py:100-122, 151-184) — maps to Spark primitives that are
engine-managed rather than hand-rolled:

- consume/poll loop        -> micro-batch engine + Trigger
- SQLite/RocksDB K/V table -> RocksDB state store (one latest row per key)
- changelog topics         -> state checkpoint (+ optional explicit
                              changelog sink for external readers)
- rebalance + replay       -> checkpoint restore on restart/rescale
- query(key)               -> state data source reader over the checkpoint
"""

from samsa_spark.streaming.sources import file_stream, kafka_sink_writer, kafka_stream
from samsa_spark.streaming.state_stream import StatefulStream, read_state

__all__ = [
    "StatefulStream",
    "read_state",
    "file_stream",
    "kafka_stream",
    "kafka_sink_writer",
]
