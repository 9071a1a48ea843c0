"""Structured Streaming layer — SURVEY.md §2.9.

The reference's streaming pipeline is subscribe → serialize → topic →
consume → ack (evm_producer.rs:39-56 / evm_consumer.rs:110-142), with
at-least-once delivery and UNIQUE-constraint dedup. The engine re-expresses
that as Structured Streaming: file/Kafka sources, watermark-scoped state,
checkpointed sinks (ack ≡ checkpoint advance), ``foreachBatch`` idempotent
writes (effectively-once — fixing the reference's orphan-row hazard,
SURVEY.md §3 EP1 step 5). A local feed is a directory landed in arrival
order by ``land_feed`` and tailed by ``read_feed``.
"""

from .jobs import (events_stream, events_stream_bounded, land_feed,
                   read_feed, run_to_memory, split_events_files)

__all__ = ["events_stream", "events_stream_bounded", "land_feed",
           "read_feed", "run_to_memory", "split_events_files"]
