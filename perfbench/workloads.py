"""The benchmark's workloads: which engine calls a pass makes, how one
call is timed, and how its output is checked.

Every call goes through a public engine entry point: a registry key's
``queries.load_all()[key].spark`` callable (materialised through the
``noop`` sink when timed, collected and compared against the key's
DuckDB oracle SQL when checked), or the ``ingest`` transforms for one
backfill batch. ``caching.release_all`` runs after every call, outside
the call's timer.
"""

from __future__ import annotations

import random
from pathlib import Path

#: Registry keys per workload. Each list is a subset of the keys the
#: workload's layer is known for, cut so that a warm pass takes 3-4 s
#: on a 4-core host: one run (JVM start, three untimed warm passes,
#: three timed ones and the output checks) must stay within about a
#: minute even when the host is busy.
KEYS = {
    # The analyst star-schema path (aggregate, broadcast dim join,
    # running window, snowflake join), then the dedup chain (MinHash LSH
    # with its persisted shingle index, brute-force cosine top-k).
    "queries": ["agg_sum_min_max_avg", "join_broadcast", "win_running_agg",
                "tpch_q5", "op_minhash_dedup", "op_similarity"],
    # Realtime tail: two stateful operators (dedup, tumbling window),
    # whose state the traced run reports.
    "ingest_stream": ["stream_dedup", "stream_tumbling_window"],
}

#: Tables whose catalog first touch belongs to each workload's set-up
#: (``None``: every table; the star-schema keys register all of them
#: as SQL views).
TABLES = {"queries": None, "ingest_stream": ("events",)}

#: The streaming memory-sink / foreachBatch query name each streaming
#: key drains under (the key of ``streaming.jobs.STATE_METRICS``).
STREAM_QUERY = {
    "stream_dedup": "t_stream_dedup",
    "stream_tumbling_window": "t_stream_tumbling",
}

#: Backfill batches: blocks per chain per batch, and the most timed
#: passes an ``ingest_stream`` run can make (one batch per pass).
BLOCKS_PER_BATCH = 100
MAX_INGEST_PASSES = 12

WORKLOADS = tuple(KEYS)

#: Registry modules whose keys the query workloads call; each gets its
#: own build / exec / cpu / spill metrics in the traced run.
MODULES = ("relational", "aggregates", "windows", "tpch", "llm_text",
           "llm_vec")


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The seed's call order for one pass. Backfill batches come first
    (the historical half), then the realtime tail in seeded order."""
    keys = list(KEYS[workload])
    random.Random(f"{seed}/{workload}/{pass_no}").shuffle(keys)
    if workload == "ingest_stream":
        return ["ingest_batch"] + keys
    return keys


def module_of(spec) -> str:
    """Registry module a key is defined in (its layer below ``queries``)."""
    return spec.spark.__module__.rsplit(".", 1)[-1]


def ingest_batch(spark, landing: Path, out: Path) -> None:
    """Ingest one landed batch: read the JSON lines, parse, flatten to
    ``blocks`` and ``transactions``, append both partitioned by chain."""
    from blockchain_data_ingestion_spark.ingest import (
        blocks_from_messages, parse_block_messages,
        transactions_from_messages, write_analytic_table)

    msgs = parse_block_messages(spark.read.text(str(landing)))
    write_analytic_table(blocks_from_messages(msgs), str(out / "blocks"))
    write_analytic_table(transactions_from_messages(msgs),
                         str(out / "transactions"))


def check_backfill(out: Path, expect: dict, n_batches: int) -> str | None:
    """Compare the written ``blocks`` table with the generator's own
    counts and digest for the first ``n_batches`` batches. Read with
    pyarrow, independently of the engine."""
    import pyarrow.dataset as ds

    from datagen import block_digest

    blocks = ds.dataset(str(out / "blocks"), format="parquet",
                        partitioning="hive").to_table(
        columns=["chain_name", "block_number", "hash", "tx_count"])
    want_blocks = sum(expect["blocks"][:n_batches])
    want_txs = sum(expect["txs"][:n_batches])
    want_digest = sum(expect["digest"][:n_batches]) % (1 << 64)
    rows = zip(*(blocks.column(c).to_pylist() for c in
                 ("chain_name", "block_number", "hash", "tx_count")))
    got_digest = block_digest(rows)
    got_txs = ds.dataset(str(out / "transactions"), format="parquet",
                         partitioning="hive").count_rows()
    if blocks.num_rows != want_blocks:
        return f"blocks: {blocks.num_rows} != {want_blocks}"
    if got_txs != want_txs:
        return f"transactions: {got_txs} != {want_txs}"
    if got_digest != want_digest:
        return "blocks digest differs from the generator's"
    return None
