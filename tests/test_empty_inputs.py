"""Empty-input totality: every registry operator, streaming keys
included (an empty feed drains to an empty result), must degrade to an empty
(or statistics-of-nothing) result on schema-identical EMPTY tables, not
raise — at 100 TB an empty slice is routine (a fresh date partition, a
chain with no traffic yet, a filtered dev subset), and an operator that
only works on populated fixtures is not total.

This pinned the real failure classes found by the round-4 sweep: a
driver-side scalar max() arriving as None (join_anti), an untypable
empty k-means model literal and a k-constant grid probing past the
actual model size (op_ann_ivf / _search), and three round-trip
sinks/sources whose read-back relied on schema inference that fails on
an empty write (sink_duckdb, sink_parquet_delta,
src_parquet_partition_pruned).
"""

from __future__ import annotations

import pytest

from blockchain_data_ingestion_spark.queries import load_all

KEYS = sorted(load_all())


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory, sf_dir) -> str:
    from .oracle import spill_connect

    from blockchain_data_ingestion_spark.catalog import TABLES

    out = tmp_path_factory.mktemp("sf_empty")
    con = spill_connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet') LIMIT 0) "
            f"TO '{out}/{t}.parquet' (FORMAT parquet)")
    return str(out)


@pytest.mark.parametrize("key", KEYS)
def test_operator_is_total_on_empty_tables(spark, empty_sf_dir, key):
    # .count() forces full execution; any row count is acceptable (a
    # statistics op may legitimately emit summary rows about nothing) —
    # the contract is "no exception".
    load_all()[key].spark(spark, empty_sf_dir).count()
