"""Deterministic inputs for the benchmark.

Two kinds of input, both written under the benchmark's build directory:

- ``star_schema`` writes the ten fixture tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) that the registry keys read.
  The value domains mirror the engine's sf0.1 test fixtures (uniform
  keys, the same string vocabularies, 5 % near-duplicate documents made
  by appending one token to an earlier document). Fact tables (orders,
  lineitem, events) can be replicated with FK-consistent key offsets
  while dimensions stay fixed, the replication model of
  ``tools/scale_probe.py``.
- ``land_block_batches`` writes JSON-lines batches of wire-format block
  messages from ``ingest.fixtures.block_message``; the run seed picks
  the chains and the block range.

The star schema depends only on its parameters (it uses a fixed base
seed, like the engine's own fixtures), so it is built once per checkout
and reused; block batches depend on the run seed and are landed per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed base seed of the star schema (the run seed never changes it).
BASE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int
           ) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _dimensions(rng: np.random.Generator, out: Path, n_cust: int,
                n_supp: int, n_part: int) -> None:
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> dict:
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _EPOCH_1995 + rng.integers(0, 2404, n) * _DAY_US,
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)]}


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int,
              n_supp: int) -> dict:
    return {
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _EPOCH_1995 + rng.integers(1, 2499, n) * _DAY_US}


def _events(rng: np.random.Generator, n: int, n_users: int) -> dict:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 20 and roll < 0.05:      # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and roll < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32)}


def _as_table(cols: dict) -> pa.Table:
    return pa.table({k: (_ts(v) if k in ("o_orderdate", "l_shipdate", "ts")
                         else v) for k, v in cols.items()})


def star_schema(out: Path, sf: float, copies: int = 1,
                n_docs: int = 500, n_vecs: int = 500) -> Path:
    """Write the ten tables for base scale ``sf`` with the fact tables
    replicated ``copies`` times; return ``out``. Idempotent: an existing
    complete directory (marked ``_READY``) is reused as is."""
    if (out / "_READY").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = (max(int(150_000 * sf), 10),
                              max(int(10_000 * sf), 5),
                              max(int(200_000 * sf), 20))
    n_orders, n_line, n_ev = (int(1_500_000 * sf), int(6_000_000 * sf),
                              int(1_000_000 * sf))
    _dimensions(rng, tmp, n_cust, n_supp, n_part)
    orders, line, events = (_orders(rng, n_orders, n_cust),
                            _lineitem(rng, n_line, n_orders, n_part, n_supp),
                            _events(rng, n_ev, max(n_cust // 10, 10)))
    # Facts replicate with key offsets (orders/lineitem keep their FK
    # join; events keep their users, so per-user histories deepen).
    for name, cols, key, span in (("orders", orders, "o_orderkey", n_orders),
                                  ("lineitem", line, "l_orderkey", n_orders),
                                  ("events", events, "event_id", n_ev)):
        parts = [_as_table(dict(cols, **{key: cols[key] + c * span}))
                 for c in range(copies)]
        pq.write_table(pa.concat_tables(parts), tmp / f"{name}.parquet")
    _write(tmp, "documents", _documents(rng, n_docs))
    pq.write_table(pa.table(_embeddings(rng, n_vecs)),
                   tmp / "embeddings.parquet")
    (tmp / "_READY").write_text("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def block_plan(seed: int, n_batches: int, blocks_per_batch: int
               ) -> tuple[tuple[str, ...], list[range]]:
    """The seed's chains and per-batch block ranges (per chain)."""
    rng = np.random.default_rng(seed)
    pool = ("ETH", "ARB", "OP", "BASE", "POLY")
    chains = tuple(sorted(rng.choice(pool, size=2, replace=False).tolist()))
    start = int(rng.integers(1, 5_000_000))
    return chains, [range(start + i * blocks_per_batch,
                          start + (i + 1) * blocks_per_batch)
                    for i in range(n_batches)]


def land_block_batches(out: Path, seed: int, n_batches: int,
                       blocks_per_batch: int) -> tuple[list[Path], dict]:
    """Land ``n_batches`` JSON-lines files of block messages under
    ``out`` and return them with the generator's own expectations per
    batch: block count, tx count and an order-insensitive digest of
    ``(chain_name, block_number, hash, tx_count)``."""
    from blockchain_data_ingestion_spark.ingest.fixtures import block_message

    chains, ranges = block_plan(seed, n_batches, blocks_per_batch)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    files, expect = [], {"blocks": [], "txs": [], "digest": []}
    for i, rng_ in enumerate(ranges):
        path = out / f"batch{i:03d}.jsonl"
        rows = []
        with path.open("w") as fh:
            for chain in chains:
                for number in rng_:
                    msg = block_message(chain, number)
                    fh.write(json.dumps(msg) + "\n")
                    rows.append((chain, number, msg["hash"],
                                 len(msg["transactions"])))
        files.append(path)
        expect["blocks"].append(len(rows))
        expect["txs"].append(sum(r[3] for r in rows))
        expect["digest"].append(block_digest(rows))
    return files, expect


def block_digest(rows) -> int:
    """Order-insensitive digest: sum of per-row sha256 prefixes mod 2^64."""
    acc = 0
    for chain, number, hsh, n_tx in rows:
        h = hashlib.sha256(f"{chain}|{number}|{hsh}|{n_tx}".encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "big")) % (1 << 64)
    return acc
