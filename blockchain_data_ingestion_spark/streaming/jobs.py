"""Streaming building blocks shared by the §2.9 operators and tests.

Local harness: the fixture ``events`` table plays the unbounded source —
landed as the files of a feed directory, then consumed with a
file-source stream (``read_feed``). In production the same logical plans
read ``format("kafka")``; only the source line changes.

Arrival order is decided in one place, ``land_feed``: the file source
dequeues a directory by modification time, so every feed — the
single-file events landing, the bounded time-sliced landing, the
three-file late-data feed and the recovery key's reveal-file-0-then-
the-rest — lands its files through that helper, which names and
mtime-stamps them in order.

``run_to_memory`` drives a query to completion synchronously
(``processAllAvailable``) against a memory sink — the batch-equivalence
harness from SURVEY.md §5.4: every windowed/deduped streaming result is
compared against a batch (DuckDB) computation of the same semantics.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..scratch import fresh_scratch_dir, scratch_dir

__all__ = ["land_feed", "read_feed", "events_stream",
           "events_stream_bounded", "run_to_memory", "split_events_files",
           "STATE_METRICS"]

#: Telemetry from `run_to_memory` drains, KEYED BY QUERY NAME: per
#: stateful operator, the PEAK numRowsTotal / memoryUsedBytes across
#: the run's recentProgress snapshots, so interleaved drains each read
#: the metrics of the query they ran. Shows state stores stay
#: watermark-bounded; never part of a query result.
STATE_METRICS: dict[str, list[dict]] = {}


def _capture_state_metrics(q, name: str) -> None:
    peaks: dict[str, dict] = {}
    try:
        for prog in q.recentProgress:
            for op in (prog or {}).get("stateOperators", []):
                key = op.get("operatorName") or str(len(peaks))
                cur = peaks.setdefault(key, {
                    "operatorName": key, "peakNumRowsTotal": 0,
                    "peakMemoryUsedBytes": 0})
                cur["peakNumRowsTotal"] = max(
                    cur["peakNumRowsTotal"], op.get("numRowsTotal", 0))
                cur["peakMemoryUsedBytes"] = max(
                    cur["peakMemoryUsedBytes"],
                    op.get("memoryUsedBytes", 0))
    except Exception:
        return
    STATE_METRICS[name] = list(peaks.values())


#: mtime of a feed's first file; file i gets ``_MTIME0 + i``. Only the
#: order matters (the file source's maxFileAge is relative to the
#: newest file it has seen, not to the wall clock).
_MTIME0 = 1_000_000_000


def land_feed(feed: str, parts, once: bool = False) -> list[str]:
    """Land ``parts`` in order as the next files of the feed directory
    ``feed`` and return the landed paths.

    Each part is a DataFrame (written, its part files taken in
    partition-id order) or the path of a file already written. Every
    file is moved in as ``f{i:05d}.parquet`` with mtime
    ``_MTIME0 + i``, ``i`` counting on from the files already there, so
    the file source dequeues them in list order. With ``once`` the feed
    is built a single time per directory, behind a ``_READY`` marker;
    ``parts`` may then be a zero-argument callable, so a feed that has
    already landed builds no plan."""
    marker = os.path.join(feed, "_READY")
    if once:
        if os.path.exists(marker):
            return []
        shutil.rmtree(feed, ignore_errors=True)  # a half-built landing
        os.makedirs(feed)
    build = feed + "__build"
    i = sum(f.endswith(".parquet") for f in os.listdir(feed))
    landed = []
    for part in (parts() if callable(parts) else parts):
        if isinstance(part, str):
            srcs = [part]
        else:
            part.write.mode("overwrite").parquet(build)
            srcs = [os.path.join(build, f) for f in sorted(os.listdir(build))
                    if f.endswith(".parquet")]
        for src in srcs:
            dst = os.path.join(feed, f"f{i:05d}.parquet")
            os.replace(src, dst)
            os.utime(dst, (_MTIME0 + i, _MTIME0 + i))
            landed.append(dst)
            i += 1
    shutil.rmtree(build, ignore_errors=True)
    if once:
        open(marker, "w").close()
    return landed


def read_feed(spark: SparkSession, feed: str,
              max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a landed feed, with the schema of its
    files; ``max_files_per_trigger`` bounds how many files one
    micro-batch dequeues (default: all that are new)."""
    reader = spark.readStream.schema(spark.read.parquet(feed).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(feed)


def _tag(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of the events table (file source ≡ topic tail),
    landed once per sf_dir as ONE unsorted file: the whole fixture
    arrives in a single micro-batch."""
    feed = scratch_dir("stream_src", _tag(sf_dir))
    land_feed(feed, lambda: [table(spark, sf_dir, "events").repartition(1)],
              once=True)
    return read_feed(spark, feed)


#: Micro-batch fan for the bounded-arrival landing: enough triggers
#: that watermarks advance and stateful operators evict mid-run (the
#: production arrival shape), few enough that per-trigger overhead
#: stays negligible at fixture scale.
_BOUNDED_FILES = 20


def events_stream_bounded(spark: SparkSession, sf_dir: str,
                          n_files: int = _BOUNDED_FILES) -> DataFrame:
    """`events_stream` with production-shaped arrival: events split into
    ``n_files`` contiguous event-time slices (repartitionByRange on ts —
    one pass), landed in ts order and read one file per trigger, so the
    watermark advances BETWEEN batches and stateful operators evict —
    the arrival shape a Kafka tail has in production, which the
    single-file landing can never exhibit (SCALE.md's stream-state
    profile: the stream-stream join held 100% of the stream in state
    under single-batch arrival vs 5.1% bounded, same result set).
    Result sets are identical for inner joins and drained aggregates —
    pinned by the sf0.1/sf10 bounded-arrival probes (hash-green vs the
    batch oracle both tiers)."""
    feed = scratch_dir("stream_src_bounded", f"{_tag(sf_dir)}_b{n_files}")
    land_feed(feed, lambda: [table(spark, sf_dir, "events")
                             .repartitionByRange(n_files, "ts")
                             .sortWithinPartitions("ts")], once=True)
    return read_feed(spark, feed, max_files_per_trigger=1)


def split_events_files(spark: SparkSession, sf_dir: str, tag: str,
                       late_mod: int = 7) -> str:
    """THREE-file feed for late-data tests, in pinned arrival order:

    - file 0: the on-time bulk, minus its newest 2 hours;
    - file 1: those newest-2-hours on-time rows (the 'keepalive');
    - file 2: the held-back 'late' rows (every ``late_mod``-th event).

    The keepalive file matters: Structured Streaming drops a late row
    only if its window was already EVICTED (emitted) at the end of a
    PRIOR batch — a late row arriving while its window state is still
    live merges and emits. With only two files the late batch IS the
    first batch that evicts anything, so nothing is ever dropped (the
    r5 shape, measured: 0 of 143 late rows dropped). Three files give
    the engine one batch to finalize old windows (watermark = max(file
    0) − delay) before the late rows arrive — the genuine production
    timeline of a long-running stream. With no on-time rows (an empty
    table) there is nothing to split: the feed is the late rows alone,
    one file, and nothing is late."""
    from datetime import timedelta

    from pyspark.sql import functions as F
    feed = fresh_scratch_dir("stream_late", tag)
    ev = table(spark, sf_dir, "events")
    on_time = ev.filter(F.col("event_id") % late_mod != 0)
    late = ev.filter(F.col("event_id") % late_mod == 0)
    top = on_time.agg(F.max("ts")).collect()[0][0]  # driver-ok: scalar max(ts) on fixture-prep (not a query path); bounds the keepalive split
    parts = [late]
    if top is not None:
        cut = top - timedelta(hours=2)
        parts = [on_time.filter(F.col("ts") < cut),
                 on_time.filter(F.col("ts") >= cut), late]
    land_feed(feed, [p.repartition(1) for p in parts])
    return feed


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append",
                  foreach_batch=None) -> DataFrame:
    """Start → drain → stop a streaming query; return the sink table
    (``None`` for a ``foreach_batch`` sink, which owns its output).

    Checkpoint dirs are fresh per run (ack-state isolation); the memory
    sink is the local stand-in for the production Delta/Kafka sink.
    """
    ckpt = fresh_scratch_dir("checkpoints", name)
    writer = (stream_df.writeStream.option("checkpointLocation", ckpt)
              .outputMode(output_mode))
    if foreach_batch is None:
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    q = writer.start()
    q.processAllAvailable()
    _capture_state_metrics(q, name)
    q.stop()
    return None if foreach_batch else stream_df.sparkSession.table(name)
