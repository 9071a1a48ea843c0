"""The arrival-order contract of `streaming.land_feed`: every feed the
streaming keys read is landed through it, so its file order IS the
micro-batch order a ``maxFilesPerTrigger`` stream sees."""

from __future__ import annotations

import os


def test_land_feed_orders_files_and_batches(spark, tmp_path):
    from blockchain_data_ingestion_spark.streaming import (
        land_feed, read_feed, run_to_memory)

    feed, stage = str(tmp_path / "feed"), str(tmp_path / "stage")
    os.makedirs(feed)
    os.makedirs(stage)
    # a written part file (the recovery key's reveal path) ...
    staged = land_feed(stage, [spark.range(0, 10).repartition(1)])
    assert [os.path.basename(p) for p in staged] == ["f00000.parquet"]
    # ... then DataFrames: one of two parts, then one more, appended
    first = land_feed(feed, staged + [spark.range(10, 30).repartition(2)])
    rest = land_feed(feed, [spark.range(30, 35).repartition(1)])
    landed = first + rest
    assert [os.path.basename(p) for p in landed] == [
        f"f{i:05d}.parquet" for i in range(4)]
    mtimes = [os.stat(p).st_mtime for p in landed]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4

    batches: list[tuple[int, int, int]] = []

    def record(df, batch_id):
        r = df.agg({"id": "min"}).collect()[0][0]  # driver-ok: test sink
        batches.append((batch_id, df.count(), r))

    src = read_feed(spark, feed, max_files_per_trigger=1)
    run_to_memory(src, "t_land_feed_order", foreach_batch=record)
    # one file per trigger, in landing order: ids 0-9, then the two
    # halves of 10-29 (partition order), then 30-34
    assert [b[0] for b in batches] == [0, 1, 2, 3]
    assert sum(b[1] for b in batches) == 35
    assert batches[0][2] == 0 and batches[-1][2] == 30
    mins = [b[2] for b in batches]
    assert mins[1] >= 10 and mins[2] >= 10


def test_land_feed_once_builds_a_single_time(spark, tmp_path):
    from blockchain_data_ingestion_spark.streaming import land_feed

    feed = str(tmp_path / "once")
    os.makedirs(feed)
    calls = []

    def parts():
        calls.append(1)
        return [spark.range(5).repartition(1)]

    assert len(land_feed(feed, parts, once=True)) == 1
    assert land_feed(feed, parts, once=True) == []
    assert calls == [1], "a landed once-feed must not rebuild its plan"
    assert sorted(os.listdir(feed)) == ["_READY", "f00000.parquet"]
