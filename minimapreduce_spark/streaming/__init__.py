"""Structured Streaming surface (SURVEY §2c "Streaming", §7.5).

The reference is strictly batch (no streaming anywhere in its 19 source
files); the north star adds streams as a first-class capability. Design:

- ``source.events_stream`` and its sharded, redelivered and
  time-sliced siblings replay a fixture table through
  ``spark.readStream`` — the same files a Kafka/file stream would feed
  incrementally in production. Each replay is a staged directory
  published once by ``artifacts.publish``.
- Window/session/stateful operators transform the stream exactly as
  their batch twins in ``operators/events.py`` do.
- Each registered query drains the stream with
  ``trigger(availableNow=True)`` through ``foreachBatch`` by the one
  drain runner ``source._drain``: ``source.run_to_memory`` keeps each
  batch as a local checkpoint and returns their union, the parquet
  sink and the ``upsert.py`` state/log drains write under their own
  checkpoint directory. It returns the result DataFrame,
  so the DuckDB oracle protocol applies unchanged —
  streaming output must equal the batch answer over the same data
  (the streaming analog of the reference's distributed-vs-sequential
  golden diff, main/test-mr.sh:59-67).

At scale: these plans are stateful streaming aggregations whose state
is partitioned by group key across executors; watermarks bound state
size, and ``applyInPandasWithState`` state lives in the state store
(RocksDB in production), not executor heap.
"""
