"""Streaming operators — SURVEY.md §2.9.

Every key here drives a real Structured Streaming query to completion
(memory or foreachBatch sink, ``processAllAvailable``) and returns the
resulting table, so the driver's check exercises actual streaming state
machinery, not a batch stand-in. Where the semantics are batch-expressible
the oracle recomputes them in SQL (the batch-equivalence property,
SURVEY.md §5.4); inherently arrival-order-dependent ops (late-data
handling) are rows-only and pytest-asserted instead.

Scale notes: file source ≡ Kafka topic tail (swap ``format``); memory sink
≡ Delta append with checkpoint; all state (dedup keys, windows, sessions)
is watermark-scoped so state stores stay bounded on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table as T
from ..catalog import table_row_count
from ..scratch import fresh_scratch_dir
from ..streaming import (events_stream, events_stream_bounded, land_feed,
                         read_feed, run_to_memory, split_events_files)
from . import register

_DEC = "decimal(18,4)"


def _append_to(out: str):
    """foreachBatch sink appending every micro-batch to parquet ``out``."""
    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(out)
    return sink


@register(
    "src_stream_subscribe",
    oracle="""
    SELECT max(ts) AS latest_ts, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    """,
)
def src_stream_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time subscription head: tail the stream and keep the liveness
    aggregate current (WebSocket subscribe_blocks, evm_adapter.rs:68-84,
    consumed evm_producer.rs:39-56). Complete-mode global agg — O(1)
    state."""
    s = events_stream(spark, sf_dir)
    agg = s.agg(F.max("ts").alias("latest_ts"),
                F.count("*").alias("n_events"))
    return run_to_memory(agg, "t_src_stream_subscribe", "complete")


@register(
    "stream_ingest_append",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def stream_ingest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous append of arriving records to storage — the whole
    reference pipeline EP2 (produce_realtime → consume → insert,
    evm_producer.rs:39-56 / evm_consumer.rs:110-142). Ack-after-write
    becomes checkpoint-advance-after-commit."""
    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value")
    return run_to_memory(s, "t_stream_ingest_append", "append")


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS wstart,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregate (blocks/min, gas/hour analog).
    Epoch-aligned windows ≡ date_trunc — the batch-equivalence anchor."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (s.groupBy(F.window("ts", "1 hour"))
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.col("value").cast(_DEC)).cast("double")
                   .alias("total_value"))
             .select(F.col("window.start").alias("wstart"),
                     "n_events", "total_value"))
    return run_to_memory(agg, "t_stream_tumbling", "complete")


@register(
    "stream_sliding_window",
    oracle="""
    SELECT wstart, CAST(count(*) AS BIGINT) AS n_events
    FROM (SELECT unnest([date_trunc('hour', ts),
                         date_trunc('hour', ts) - INTERVAL 1 HOUR])
            AS wstart
          FROM events)
    GROUP BY wstart
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h-every-1h windows (moving tx-rate analog): each event
    lands in exactly two overlapping windows."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (s.groupBy(F.window("ts", "2 hours", "1 hour"))
             .agg(F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("wstart"), "n_events"))
    return run_to_memory(agg, "t_stream_sliding", "complete")


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      -- STRICT > : Spark's session_window MERGES an exactly-gap-wide
      -- inactivity (window end = ts + gap, closed at the boundary —
      -- probed empirically r12). The >= spelling split exact-30-min
      -- pairs into two sessions and diverged by 2 rows at sf1, where
      -- the replicated fixture first plants such pairs; sf0.01/sf0.1
      -- have none (caught by tools/parity_sweep.py's sf1 tier). The
      -- batch twin (win_sessionize) always used > in BOTH engines.
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- cumsum MUST use the same total order as the flag window: a
      -- bare ORDER BY ts with a ROWS frame is underdetermined on tied
      -- timestamps (the replicated sf1 fixture has 10 copies per ts),
      -- letting tie rows land before their own session's flag row and
      -- straddle the boundary — r12 sf1 sweep find #2
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-min inactivity) per user — burst-
    activity sessions per address. Oracle recomputes the same merge with
    lag+cumsum sessionization (batch equivalence)."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (s.groupBy(F.session_window("ts", "30 minutes"), "user_id")
             .agg(F.count("*").alias("n_events"))
             .select("user_id",
                     F.col("session_window.start").alias("session_start"),
                     "n_events"))
    return run_to_memory(agg, "t_stream_session", "complete")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT event_id, user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup — the engine replacement for the
    reference's UNIQUE-constraint-as-dedup (at-least-once redelivery acked
    after write, evm_consumer.rs:130-133; constraints
    0001_initial.sql:22-23). The source is unioned with itself to simulate
    redelivery; watermark bounds the dedup state."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    s = (a.unionByName(b)
          .withWatermark("ts", "1 hour")
          .dropDuplicates(["event_id"])
          .select("event_id", "user_id", "event_type"))
    return run_to_memory(s, "t_stream_dedup", "append")


@register("stream_watermark_late", oracle=None)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late/out-of-order handling: a final micro-batch delivers rows whose
    event time is far behind the advanced watermark (late reorg blocks
    analog) — windows already finalized must NOT change, and the late
    rows targeting them are dropped. The feed dribbles in three files
    (bulk → keepalive → late) because Spark drops a late row only if its
    window was EVICTED at the end of a prior batch — see
    `split_events_files`; with two files nothing ever dropped (r6 fix).
    Arrival-order-dependent ⇒ rows-only here;
    tests/test_streaming.py::test_watermark_drops_exactly_the_late_set
    feeds the SAME rows in two arrival orders and pins the exact drop
    set (evicted windows lose precisely their late rows; live windows
    keep them)."""
    feed = split_events_files(spark, sf_dir, "wm_late")
    s = (read_feed(spark, feed, max_files_per_trigger=1)
         .withWatermark("ts", "5 minutes"))
    agg = (s.groupBy(F.window("ts", "1 hour"))
             .agg(F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("wstart"), "n_events"))
    return run_to_memory(agg, "t_stream_wm_late", "append")


@register(
    "stream_join",
    oracle="""
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (stream txs ⋈ static chain dim
    analog): the static side is broadcast to every micro-batch; no
    streaming state."""
    s = events_stream(spark, sf_dir)
    dim = T(spark, sf_dir, "customer")
    agg = (s.join(F.broadcast(dim), s.user_id == dim.c_custkey)
             .groupBy("c_mktsegment")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.col("value").cast(_DEC)).cast("double")
                   .alias("total_value")))
    return run_to_memory(agg, "t_stream_join", "complete")


def ss_join_plan(a_src: DataFrame, b_src: DataFrame) -> DataFrame:
    """The stream_stream_join logical plan over two already-streaming
    event sources: even-id half ⋈ odd-id half on user_id plus a 10 min
    event-time range, watermarked 30 min on BOTH sides. Factored out so
    a scale probe can drive the IDENTICAL plan from any arrival shape
    (single-file or bounded landing) and measure state eviction — the
    registry key and the probe must never diverge in join shape."""
    a = (a_src.filter(F.col("event_id") % 2 == 0)
              .select("user_id", "event_id", "ts")
              .withWatermark("ts", "30 minutes"))
    b = (b_src.filter(F.col("event_id") % 2 == 1)
              .select(F.col("user_id").alias("b_user"),
                      F.col("event_id").alias("b_event"),
                      F.col("ts").alias("b_ts"))
              .withWatermark("b_ts", "30 minutes"))
    return (a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("ts"))
        & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")))
        .select("user_id", F.col("event_id").alias("a_event"), "b_event"))


@register(
    "stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS a_event, b.event_id AS b_event
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (streaming txs ⋈ streaming blocks
    analog): two unbounded sources — the even- and odd-id halves of the
    event stream — joined on key plus an event-time range, with
    watermarks on BOTH sides. Inner-join matches emit eagerly; the
    watermarks + range condition exist to bound the join state (each
    side's buffer evicts rows older than watermark − 10 min), which is
    what lets this run forever at 100 TB/day. The oracle is the same
    join in batch SQL — batch-stream equivalence, SURVEY.md §5.4.

    Arrival shape (r14, measured — SCALE.md): under the single-file
    landing the whole fixture arrives in ONE micro-batch, the
    watermark never advances mid-run, and the join state transiently
    holds 100% of the stream (10M rows / 2.16 GB at sf10; engine run
    501.8 s). This key therefore reads the BOUNDED landing
    (`events_stream_bounded`: time-ordered slices, one file per
    trigger) — the arrival shape a Kafka tail actually has — so the
    watermark advances between batches and state evicts to the
    horizon: peak 5.1% of the stream and 91.3 s at sf10, with a
    hash-identical result set (inner-join matches emit eagerly;
    eviction only drops rows whose matches were already emitted).

    State partitioning is sized to the STREAM, not the session's batch
    shuffle width (r14, measured at sf0.1: 32 partitions → 78 s,
    8 → 17.6 s for the same 20-trigger drain): a stream-stream join
    runs 4 state stores per shuffle partition per trigger, so
    partition count is a PER-TRIGGER fixed cost — it must track state
    volume (footer row count, zero jobs), exactly the
    state-store-sizing knob a production deployment tunes.

    The override is SCOPED to a cloned session (ADVICE r14: mutating
    the shared session's shuffle width leaked stream-sized partitions
    into any concurrently-running query, and a mid-run crash skipped
    the finally-restore). ``newSession()`` shares the SparkContext and
    cache but owns its SQLConf and temp views, so the partition count
    set here is invisible to every other query and dies with the
    clone; ``tune_session`` re-applies the engine's runtime confs
    (UTC, AQE, Arrow — a clone of an externally-built session does not
    inherit runtime ``conf.set`` mutations). The memory-sink table is
    registered in the clone's catalog and returned from it — same
    SparkContext, so the caller collects it transparently."""
    from ..session import tune_session

    n_events = table_row_count(sf_dir, "events") or 0
    parts = max(4, min(32, n_events // 1_000_000))
    s2 = tune_session(spark.newSession())
    s2.conf.set("spark.sql.shuffle.partitions", str(parts))
    src = events_stream_bounded(s2, sf_dir)
    joined = ss_join_plan(src, src)
    return run_to_memory(joined, "t_stream_stream_join", "append")


@register(
    "stream_foreachbatch_jdbc",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_id < 4000
    """,
)
def stream_foreachbatch_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch external-sink bridge — the per-message Postgres write
    (evm_consumer.rs:110-142) becomes one vectorized batched write per
    micro-batch. Local stand-in writes parquet; production swaps the lambda
    body for ``df.write.jdbc(url, table, properties={'batchsize': ...})`` —
    no JDBC driver ships in this image (see ingest/jdbc.py)."""
    out = fresh_scratch_dir("stream_fb_sink")
    s = (events_stream(spark, sf_dir)
         .filter(F.col("event_id") < 4000)
         .select("event_id", "user_id", "value"))
    run_to_memory(s, "t_stream_fb", "append", foreach_batch=_append_to(out))
    return spark.read.parquet(out)


@register(
    "stream_exactly_once_sink",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effectively-once sink: idempotent per-batch writes keyed by
    batch_id, retried batches overwrite instead of duplicating — upgrading
    the reference's at-least-once + UNIQUE-reject (evm_consumer.rs:130-133,
    0001_initial.sql:22-23). The retry is simulated by running each batch
    write twice; production form is Delta MERGE keyed by (txnAppId,
    batchId)."""
    base = fresh_scratch_dir("stream_e1_sink")
    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type")

    def sink(df: DataFrame, batch_id: int) -> None:
        path = f"{base}/batch_id={batch_id}"
        df.write.mode("overwrite").parquet(path)   # first delivery
        df.write.mode("overwrite").parquet(path)   # redelivery — no dupes

    run_to_memory(s, "t_stream_e1", "append", foreach_batch=sink)
    return (spark.read.option("basePath", base).parquet(f"{base}/batch_id=*")
                 .select("event_id", "user_id", "event_type"))


@register(
    "stream_backfill_then_tail",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def stream_backfill_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded historical backfill + unbounded tail landing in ONE table —
    the reference runs both concurrently into ``-historical``-suffixed
    topics (lib.rs:92-121, suffix :93). Here the batch job writes the past,
    the streaming job appends the tail, and the landing dir is the single
    source of truth."""
    cut = 5000
    out = fresh_scratch_dir("stream_backfill")
    cols = ["event_id", "user_id", "event_type", "value"]
    backfill = (T(spark, sf_dir, "events")
                .filter(F.col("event_id") < cut).select(*cols))
    backfill.write.mode("append").parquet(out)

    tail = (events_stream(spark, sf_dir)
            .filter(F.col("event_id") >= cut).select(*cols))
    run_to_memory(tail, "t_stream_tail", "append",
                  foreach_batch=_append_to(out))
    return spark.read.parquet(out)


@register(
    "stream_stateful_custom",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, max) kept in explicit state across micro-batches — the
    extension point for operators Spark's built-in aggregates can't
    express. State is Arrow-batched pandas, never row-at-a-time."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        import pandas as pd
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "max_value": [mx]})

    s = events_stream(spark, sf_dir).select("user_id", "value")
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, max_value DOUBLE",
        stateStructType="n BIGINT, mx DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "t_stream_stateful", "update")


@register(
    "stream_window_topk",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS wstart, user_id,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    closed AS (
      SELECT * FROM agg
      WHERE wstart + INTERVAL 1 HOUR
              <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)),
    ranked AS (
      SELECT wstart, user_id, n_events,
             row_number() OVER (PARTITION BY wstart
                                ORDER BY n_events DESC, user_id) AS rnk
      FROM closed)
    SELECT wstart, CAST(rnk AS BIGINT) AS rnk, user_id, n_events
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pre-aggregation feeding a batch rank — the two-stage
    layout leaderboards actually deploy, because rank windows are not
    executable on an unbounded stream: stage 1 is a REAL streaming
    windowed aggregate ((1-hour window, user) counts, APPEND mode with
    a 10-minute watermark — state genuinely evicts as windows close,
    and each closed window is emitted exactly once); stage 2 ranks the
    landed aggregate table batch-side to top-3 users per window. The
    stream carries only open-window (window × user) state; the ranking
    input is already aggregate-sized. The oracle mirrors append-mode
    emission exactly: only windows whose end precedes the final
    watermark (max event time − 10 min) appear.

    Scale: the streaming stage is the standard watermark-bounded
    windowed agg; the batch rank partitions by window over aggregate
    rows — never raw events. In production stage 2 reads the sink
    table on a schedule or via foreachBatch; the semantics are
    identical."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (s.groupBy(F.window("ts", "1 hour"), "user_id")
             .agg(F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("wstart"), "user_id",
                     F.col("n_events").cast("long")))
    landed = run_to_memory(agg, "t_stream_window_topk", "append")
    from pyspark.sql.window import Window as W
    w = W.partitionBy("wstart").orderBy(F.col("n_events").desc(),
                                        "user_id")
    return (landed.withColumn("rnk", F.row_number().over(w).cast("long"))
                  .filter(F.col("rnk") <= 3)
                  .select("wstart", "rnk", "user_id", "n_events"))


@register(
    "stream_rate_alert",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    closed AS (
      SELECT * FROM agg
      WHERE wstart + INTERVAL 1 HOUR
              <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)),
    med AS (
      SELECT event_type,
             quantile_cont(n_events, 0.5) AS med_n
      FROM closed GROUP BY event_type)
    SELECT c.wstart, c.event_type, c.n_events,
           CAST(floor(10.0 * med_n) AS BIGINT) AS med_deci,
           c.n_events > 2.0 * med_n AS alerted
    FROM closed c JOIN med USING (event_type)
    ORDER BY c.wstart, c.event_type
    """,
)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate alerting: stage 1 is a REAL watermark-bounded
    streaming windowed aggregate ((1-hour window, event type) counts,
    APPEND mode — `stream_window_topk`'s layout); stage 2 flags each
    closed window whose count exceeds 2× that type's MEDIAN hourly
    count, batch-side over the landed aggregate — the deployed shape
    of a volumetric anomaly alert (spike = incident or bot wave; the
    batch sibling is `op_burst_detection`).

    The threshold is RELATIVE (2× median) deliberately: replication
    multiplies every window count uniformly, so the alert arms stay
    live at every SF where any fixed count saturates (`op_cusum_alerts`'
    √n lesson, solved here by scale-invariance instead).

    Determinism: append emission mirrored exactly by the oracle (only
    windows closing before max event time − watermark appear); the
    median over closed-window counts is the exact interpolated form
    (surfaced floor-deciunits), the alert predicate is one double
    comparison with identical operand order.

    Scale: streaming state is open (window × |types|) cells — tiny and
    watermark-evicted; the batch stage joins the |types|-row median
    (broadcast) onto aggregate-grain rows, never raw events."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (s.groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("wstart"), "event_type",
                     F.col("n_events").cast("long")))
    landed = run_to_memory(agg, "t_stream_rate_alert", "append")
    # med derives from `landed` itself — rename its key so the
    # aggregate-on-self join carries no conflicting attribute ids
    med = (landed.groupBy(F.col("event_type").alias("et"))
           .agg(F.expr("percentile(n_events, 0.5)").alias("med_n"))
           .withColumnRenamed("et", "event_type"))
    return (landed.join(F.broadcast(med), "event_type")
            .select("wstart", "event_type", "n_events",
                    F.expr("CAST(floor(10.0 * med_n) AS BIGINT)")
                    .alias("med_deci"),
                    (F.col("n_events") > 2.0 * F.col("med_n"))
                    .alias("alerted"))
            .orderBy("wstart", "event_type"))


@register(
    "stream_recovery_replay",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           TRUE AS exactly_once
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_recovery_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery with exactly-once output: a streaming query
    processes the feed's FIRST file and "crashes" (Trigger.Once with
    only file 0 revealed — Once drains ALL available data, so the
    crash point is made deterministic by revealing files, not by
    racing a stop), then a SECOND query — new object, same checkpoint
    location — starts against the now-complete 4-file feed. The
    restart MUST skip file 0 (its offsets are committed in the
    checkpoint) yet land files 1–3, so the landed table contains
    every source row EXACTLY once: no re-delivery, no gap. This
    is THE operational property `stream_exactly_once_sink` asserts
    within one run, extended across the failure boundary every
    production stream eventually crosses (executor loss, deploy,
    OOM-kill): recovery semantics live in the CHECKPOINT, not the
    process.

    Determinism: the verdict columns are exact counts plus an
    engine-side exactly-once boolean (count == distinct count — a
    re-delivered batch flips it false, a gap flips n_events short);
    the oracle restates the batch truth with a literal TRUE.

    Scale: the feed is repartitioned to 4 files so the first trigger
    is a strict prefix; state is the file-source log + parquet sink —
    both O(batches), not O(rows); the verification aggregate is one
    two-phase count over the landed dir."""
    stage = fresh_scratch_dir("stream_recovery", "stage")
    feed = fresh_scratch_dir("stream_recovery", "feed")
    out = fresh_scratch_dir("stream_recovery", "landed")
    ckpt = fresh_scratch_dir("stream_recovery", "ckpt")
    cols = ["event_id", "user_id", "event_type", "value"]
    staged = land_feed(stage, [T(spark, sf_dir, "events").select(*cols)
                               .repartition(4)])
    land_feed(feed, staged[:1])
    src = read_feed(spark, feed)
    sink = _append_to(out)

    # run 1: only file 0 is visible — drain it and "crash"
    q1 = (src.writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append").foreachBatch(sink)
          .trigger(once=True).start())
    q1.awaitTermination()
    # the rest of the feed "arrives while the job is down"
    land_feed(feed, staged[1:])
    # run 2: fresh query object, SAME checkpoint — must skip file 0
    q2 = (src.writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append").foreachBatch(sink).start())
    q2.processAllAvailable()
    q2.stop()

    # explicit schema: an empty feed lands nothing to infer it from
    landed = spark.read.schema(src.schema).parquet(out)
    return (landed.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.countDistinct("event_id").cast("long")
                 .alias("n_distinct"))
            .withColumn("exactly_once",
                        F.col("n_events") == F.col("n_distinct"))
            .orderBy("event_type"))


@register(
    "stream_ohlc_bars",
    # batch-equivalence oracle: epoch-aligned 1 h tumbling windows ≡
    # date_trunc; open/close by the unique event_id ingest sequence
    # (arg_min/arg_max ≡ the streaming min_by/max_by)
    oracle="""
    SELECT date_trunc('hour', ts) AS wstart,
           CAST(arg_min(CAST(floor(value * 100) AS BIGINT), event_id)
                FILTER (WHERE value IS NOT NULL)
             AS BIGINT) AS open_cents,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS high_cents,
           CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS low_cents,
           CAST(arg_max(CAST(floor(value * 100) AS BIGINT), event_id)
                FILTER (WHERE value IS NOT NULL)
             AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candlestick bars: 1-hour tumbling windows over
    the event stream with min_by/max_by selecting open/close by the
    ingest sequence — `op_ohlc_bars`' batch aggregate lifted to
    Structured Streaming unchanged (the declarative win: the same
    aggregate expressions run incrementally with O(1) state per
    window — current best + its key — exactly like streaming min/max;
    no applyInPandasWithState needed for argmin/argmax semantics).
    The oracle is the batch date_trunc twin, so the stream's final
    state must equal the one-shot batch answer — the
    batch-equivalence contract every streaming key here pins.

    Scale: watermark bounds window state to the disorder horizon
    (`op_watermark_planner` picks the number from data); state per
    live window is five scalars + a key, not the rows."""
    s = (events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
         .withColumn("cents", F.floor(F.col("value") * 100).cast("long")))
    cents = F.col("cents")
    # FILTER: skip NULL-value ticks for open/close, matching the batch
    # twin's arg_min/arg_max null-skip (see _ohlc_sql; r12 null-seed)
    agg = (s.groupBy(F.window("ts", "1 hour"))
           .agg(F.expr("min_by(cents, event_id)"
                       " FILTER (WHERE cents IS NOT NULL)").cast("long")
                 .alias("open_cents"),
                F.max(cents).cast("long").alias("high_cents"),
                F.min(cents).cast("long").alias("low_cents"),
                F.expr("max_by(cents, event_id)"
                       " FILTER (WHERE cents IS NOT NULL)").cast("long")
                 .alias("close_cents"),
                F.count("*").cast("long").alias("n_trades"))
           .select(F.col("window.start").alias("wstart"), "open_cents",
                   "high_cents", "low_cents", "close_cents", "n_trades"))
    return run_to_memory(agg, "t_stream_ohlc", "complete")
