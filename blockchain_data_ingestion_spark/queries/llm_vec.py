"""LLM training-data pipeline — embeddings, UDF surface, multimodal.

Second half of the BASELINE.json-mandated extension surface
(SURVEY.md §2.10): approximate-nearest-neighbor similarity search over
the ``embeddings`` fixture (vec_id, embedding float[64], label),
embedding near-dup ranking, the Arrow-vectorized Python surface
(pandas_udf / applyInPandas / chunk-expansion), an ABI-decode-style
event decoder (the reference's ``decoded_event`` column, README.md:192,
never implemented there), and multimodal binary-column plumbing.

Determinism strategy:
- cosine similarities are double-precision HOF folds, surfaced rounded
  to 6 decimals (error bound ~1e-15 at dim 64; see ``numeric`` module
  rationale) — every ordering that consumes them breaks ties on ids;
- everything else is integer/string math, exact on both engines.

Scale design (100 TB / billions of vectors):
- brute-force top-k broadcasts the (small) query set and never shuffles
  the corpus — one scan, partial top-k per partition via the ranking
  window on the (tiny) query_id key space;
- the LSH variant buckets the corpus by hyperplane-sign signature so
  candidate generation is a bucket-equijoin (shuffle on bucket id), the
  standard billion-scale ANN layout (IVF cells ≈ buckets);
- Python stages run via Arrow-batched pandas UDFs (never row-at-a-time)
  and only where JVM builtins genuinely cannot express the op.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import query_sql as Q
from ..catalog import table as T
from ..catalog import table_list_dim, table_row_count
from . import register

_DIM = 64

# ---------------------------------------------------------------------------
# shared cosine expressions (identical fold order both engines)
# ---------------------------------------------------------------------------

#: Spark: dot(a, b) over array<float> columns, accumulated in double.
def _spark_dot(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b},"
            " (x, y) -> cast(x as double) * cast(y as double)),"
            " cast(0 as double), (acc, v) -> acc + v)")


def _duck_dot(a: str, b: str) -> str:
    return (f"list_sum(list_apply(range(1, {_DIM} + 1),"
            f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


_SPARK_NORM = f"sqrt({_spark_dot('embedding', 'embedding')})"
_DUCK_NORM = f"sqrt({_duck_dot('embedding', 'embedding')})"

# Decomposed-column twins for QUADRATIC oracles (the r13 sf3 skip, the
# same scale-the-oracle lesson as the MATERIALIZED triangle/attribution
# precedents): `_duck_dot`'s per-pair list_apply lambda allocates a
# range + closure per pair — fine for the O(n·k) similarity oracles,
# ~0.9M pairs/s on the O(n²) all-pairs one. Splitting the embedding
# into 64 scalar DOUBLE columns once (MATERIALIZED CTE) and unrolling
# the dot as a left-associative `+` chain keeps the EXACT sequential
# fold order of `_spark_dot` (((t0+t1)+t2)… ≡ acc += t_d, and 0+t0 ≡
# t0) so values stay bit-identical, while DuckDB vectorizes plain
# column arithmetic — measured 3.3× at sf1 (223 s → 67 s), verified
# row-identical incl. float bits.
_DUCK_E_COLS = ", ".join(
    f"CAST(embedding[{i + 1}] AS DOUBLE) AS e{i}" for i in range(_DIM))
_DUCK_NORM_COLS = ("sqrt(" + " + ".join(
    f"e{i} * e{i}" for i in range(_DIM)) + ")")


def _duck_dot_cols(a: str, b: str) -> str:
    return " + ".join(f"{a}.e{i} * {b}.e{i}" for i in range(_DIM))


# ---------------------------------------------------------------------------
# op_similarity — brute-force cosine top-k (the exact baseline)
# ---------------------------------------------------------------------------

@register(
    "op_similarity",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_DUCK_NORM} AS nrm FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
          FROM e WHERE vec_id < 10),
    scored AS (SELECT query_id, vec_id AS neighbor_id,
                      round({_duck_dot('qe', 'embedding')} / (qn * nrm), 6)
                        AS cosine,
                      row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY {_duck_dot('qe', 'embedding')} / (qn * nrm)
                                 DESC, vec_id) AS rn
               FROM q JOIN e ON vec_id <> query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM scored WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def op_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < 10),
    the 3 nearest corpus vectors by cosine (exact kNN baseline).

    Scale: the query set is broadcast (theta join → BroadcastNestedLoop
    over the corpus scan — no corpus shuffle); the only shuffle is the
    per-query ranking window keyed on query_id. At billions of corpus
    rows this is one pass; use `op_similarity_lsh` to prune candidates."""
    return Q(spark, sf_dir, f"""
        WITH e AS (SELECT vec_id, embedding, {_SPARK_NORM} AS nrm
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 10),
        scored AS (SELECT /*+ BROADCAST(q) */ query_id, vec_id,
                          {_spark_dot('qe', 'embedding')} / (qn * nrm)
                            AS cos_raw
                   FROM q JOIN e ON vec_id != query_id)
        SELECT query_id, vec_id AS neighbor_id,
               round(cos_raw, 6) AS cosine, cast(rn as long) AS rn
        FROM (SELECT query_id, vec_id, cos_raw,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= 3
    """)


# ---------------------------------------------------------------------------
# op_similarity_lsh — hyperplane-LSH bucketed ANN
# ---------------------------------------------------------------------------

#: deterministic pseudo-random hyperplanes, identical literal formula on
#: both engines: plane_j[i] = ((7*i + 13*j + 3) mod 11) - 5   (j = 0..7).
_N_PLANES = 8


def _spark_bucket(col: str) -> str:
    # NB: Spark SQL `arr[i]` is 0-based (DuckDB's `list[i]` is 1-based) —
    # the two expressions below index the same elements.
    dots = [
        f"aggregate(transform(sequence(0, {_DIM - 1}),"
        f" i -> cast({col}[i] as double)"
        f"      * cast(((7 * i + 13 * {j} + 3) % 11) - 5 as double)),"
        " cast(0 as double), (acc, v) -> acc + v)"
        for j in range(_N_PLANES)]
    return " + ".join(
        f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, d in enumerate(dots))


def _duck_bucket(col: str) -> str:
    dots = [
        f"list_sum(list_apply(range(0, {_DIM}),"
        f" i -> CAST({col}[i + 1] AS DOUBLE)"
        f"      * CAST(((7 * i + 13 * {j} + 3) % 11) - 5 AS DOUBLE)))"
        for j in range(_N_PLANES)]
    return " + ".join(
        f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, d in enumerate(dots))


@register(
    "op_similarity_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_DUCK_NORM} AS nrm,
                      CAST({_duck_bucket('embedding')} AS BIGINT) AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
          FROM e WHERE vec_id < 10),
    scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                      round({_duck_dot('qe', 'embedding')} / (qn * e.nrm), 6)
                        AS cosine,
                      row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY {_duck_dot('qe', 'embedding')} / (qn * e.nrm)
                                 DESC, e.vec_id) AS rn
               FROM q JOIN e ON q.bucket = e.bucket
                            AND e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM scored WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def op_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors: 8 deterministic
    random-hyperplane signs → 256-bucket signature; candidates = corpus
    vectors in the query's bucket; exact cosine rerank, top-3.

    Scale: THE billion-vector layout — bucketing is a narrow per-row
    transform, candidate generation an equi-join on bucket id (shuffle
    on a uniform 256-way key; widen to 2^16 buckets at real scale, and
    see `op_similarity_lsh_multiprobe` for the implemented recall
    lever). Recall is approximate vs `op_similarity` by design."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm"),
                 F.expr(_spark_bucket("embedding")).cast("long")
                  .alias("bucket")))
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qe"),
                  F.col("nrm").alias("qn"),
                  F.col("bucket").alias("qbucket")))
    scored = (F.broadcast(q)
              .join(e, (F.col("qbucket") == F.col("bucket"))
                    & (F.col("vec_id") != F.col("query_id")))
              .withColumn("cos_raw",
                          F.expr(_spark_dot("qe", "embedding"))
                          / (F.col("qn") * F.col("nrm"))))
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "vec_id")
    return (scored
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= 3)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    F.round("cos_raw", 6).alias("cosine"), "rn"))


# ---------------------------------------------------------------------------
# op_similarity_lsh_multiprobe — Hamming-1 multi-probe over the LSH buckets
# ---------------------------------------------------------------------------

@register(
    "op_similarity_lsh_multiprobe",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_DUCK_NORM} AS nrm,
                      CAST({_duck_bucket('embedding')} AS BIGINT) AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
          FROM e WHERE vec_id < 10),
    probes AS (SELECT query_id, qe, qn,
                      unnest([bucket] || list_apply(range(0, {_N_PLANES}),
                             j -> xor(bucket, CAST(2**j AS BIGINT)))) AS pb
               FROM q),
    scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                      round({_duck_dot('qe', 'embedding')} / (qn * e.nrm), 6)
                        AS cosine,
                      row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY {_duck_dot('qe', 'embedding')} / (qn * e.nrm)
                                 DESC, e.vec_id) AS rn
               FROM probes p JOIN e ON p.pb = e.bucket
                                   AND e.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM scored WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def op_similarity_lsh_multiprobe(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket plus every
    bucket at Hamming distance 1 (one sign bit flipped — the buckets a
    near-boundary neighbor most likely fell into), then exact-reranks
    the union. The recall lever `op_similarity_lsh`'s docstring points
    to at billion-vector scale, made real: 1+{_N_PLANES} probes recover
    most of the recall a single probe loses, at ~{_N_PLANES + 1}× the
    candidate cost — still a vanishing fraction of the corpus.

    Scale: identical layout to the single-probe op — bucketing is a
    narrow per-row transform; the probe fan-out rides the tiny broadcast
    query side (corpus rows are never replicated); candidates come from
    the same uniform bucket equi-join. A corpus vector lives in exactly
    one bucket, so probe buckets never produce duplicate candidates and
    no dedup stage is needed before the rerank window."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm"),
                 F.expr(_spark_bucket("embedding")).cast("long")
                  .alias("bucket")))
    flips = ", ".join(f"bucket ^ {1 << j}L" for j in range(_N_PLANES))
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qe"),
                  F.col("nrm").alias("qn"),
                  F.explode(F.expr(f"array(bucket, {flips})"))
                   .alias("pbucket")))
    scored = (F.broadcast(q)
              .join(e, (F.col("pbucket") == F.col("bucket"))
                    & (F.col("vec_id") != F.col("query_id")))
              .withColumn("cos_raw",
                          F.expr(_spark_dot("qe", "embedding"))
                          / (F.col("qn") * F.col("nrm"))))
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "vec_id")
    return (scored
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= 3)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    F.round("cos_raw", 6).alias("cosine"), "rn"))


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — near-dup pair ranking by cosine
# ---------------------------------------------------------------------------

#: WORK cap for the all-pairs verification stage, in pair-dimension
#: multiply-adds: n·(n−1)/2 × dims (VERDICT r14 item 1 — the old
#: 131k ROW cap gated on rows, not work, so its own worst case was
#: unmeasured and dimension-blind). The budget is wall-clock-derived:
#: the sf3 split probe (its findings are recorded in SCALE.md)
#: measured the engine's blocked-numpy exact path at ~1.26e9
#: work-units/s end-to-end on this box (60k×64d → 1.15e11 work in
#: 91.1 s cold), so 6e11 bounds the exact stage at ≈ 8 min single-node —
#: and per-CORE the rate transfers to a cluster (the block grid is
#: embarrassingly parallel), so the same constant bounds executor-core
#: time there. At 64 dims the cap admits ~137k rows (≈ the old row
#: cap, now justified); at 1024 dims only ~34k — fatter vectors now
#: correctly tighten the gate. Beyond it the O(n²) pair space is the
#: wrong tool no matter how it is distributed — candidates must come
#: from `op_similarity_lsh` / `dedup_simhash` buckets first (same gate
#: philosophy as the EIP-55 keccak refusal: degrade loudly instead of
#: silently melting the cluster).
_COSINE_MAX_PAIR_WORK = 600_000_000_000


@register(
    "dedup_embedding_cosine",
    # Decomposed-column oracle (see _DUCK_E_COLS): the only O(n²)-pair
    # oracle in the registry — the list-lambda dot was the r13 sf3 skip
    # reason. MATERIALIZED pins the split + norms to one pass; the
    # unrolled chain keeps _spark_dot's exact fold order, and cos is
    # projected ONCE (the old text recomputed the dot in ORDER BY).
    oracle=f"""
    WITH ed AS MATERIALIZED (
        SELECT vec_id, label, {_DUCK_E_COLS} FROM embeddings),
    e AS MATERIALIZED (
        SELECT *, {_DUCK_NORM_COLS} AS nrm FROM ed),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 a.label AS label_a, b.label AS label_b,
                 ({_duck_dot_cols('a', 'b')}) / (a.nrm * b.nrm) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, label_a, label_b, round(cos, 6) AS cosine
    FROM p
    ORDER BY cos DESC, vec_a, vec_b
    LIMIT 50
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: rank all distinct pairs by
    cosine, keep the top 50 (the fixture's max pairwise cosine is ~0.5,
    so a fixed 0.9-style threshold would be vacuous — ranking exercises
    identical semantics). Labels ride along to eyeball cluster recall.

    Scale: all-pairs is O(n²·d) — correct only as the verification
    stage. The op enforces that boundary itself: corpora whose
    estimated pair work (n·(n−1)/2 × dims, both footer-derived)
    exceeds ``_COSINE_MAX_PAIR_WORK`` AUTO-SWITCH to the LSH
    candidate+rerank plan
    (`_lsh_top_pairs`, the exact body of `dedup_embedding_lsh`) instead
    of attempting n² work — same top-50 schema, hyperplane-sign bucket
    candidates, exact cosine rerank on candidates only. A true near-dup
    pair (cosine ≈ 1) almost surely shares its sign pattern, so recall
    on actual near-dups survives the switch; the pinned contract is
    tests/test_llm_vec.py::test_cosine_dedup_auto_switches_past_cap
    (above-cap corpus returns, no raise, hash-equal to the LSH key).

    Execution — bucketed block pair-join, fully executor-side (nothing is
    ever collected to the driver):

    1. hash-chunk rows into C buckets (``pmod(vec_id, C)``, C sized so a
       chunk ≲ 2048 rows) and pack each chunk into one row via
       ``collect_list(struct(...))`` — one narrow shuffle;
    2. build the C(C+1)/2 unordered chunk-pair grid JVM-side with
       ``explode(sequence(cid, C-1))`` (no theta/nested-loop join) and
       attach both payloads by equi-join — Catalyst/AQE picks broadcast
       vs shuffle from actual packed sizes;
    3. one Arrow ``mapInPandas`` task per block computes its chunk×chunk
       cosine matrix vectorized and prunes to a local top-50 — every
       unordered vector pair {a,b} lands in exactly one block, so the
       global top-50 ⊆ union of block top-50s;
    4. global ``TakeOrderedAndProject`` (orderBy+limit — partial top-k
       per partition, no full sort).

    Per-task memory is bounded by the 2048² cosine block (~33 MB),
    independent of corpus size. Floats stay bit-identical to the
    JVM/DuckDB fold: products and sums accumulate dimension-sequentially
    (``acc += a_d·b_d``), the exact left-fold order of `_spark_dot`."""
    import numpy as np

    e = T(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # Cap probe from parquet footers (exact COUNT(*), zero Spark jobs) —
    # the eager df.count() here was a full corpus scan spent deciding
    # which plan to run (VERDICT r13 item 5). Non-parquet backings fall
    # back to the scan.
    n = table_row_count(sf_dir, "embeddings")
    if n is None:
        n = e.count()
    # Vector width from one local pyarrow first-row read — exact and
    # still ZERO Spark jobs (the pinned no-job contract; footer byte
    # sizes fold in rep/def levels so they can't give dims exactly).
    # Non-parquet backings pay one bounded head(1) pull instead. An
    # empty table has no first row on either route — pair work is 0,
    # so the exact path (vacuously) applies with dims unprobed.
    if n == 0:
        dims = 0
    else:
        dims = table_list_dim(sf_dir, "embeddings", "embedding")
        if not dims:
            head = e.select("embedding").head()  # driver-ok: 1-row dims probe on non-parquet backings
            dims = len(head["embedding"]) if head is not None else 0
    pair_work = n * (n - 1) // 2 * dims
    if pair_work > _COSINE_MAX_PAIR_WORK:
        # Past the all-pairs work budget the exact plan is the wrong
        # plan; degrade to candidates+rerank rather than raising or
        # OOMing. The degradation is made EXPLICIT (ADVICE r5): callers
        # that need to distinguish exact from approximate output can
        # catch the warning; the schema stays oracle-identical either
        # way.
        import warnings
        warnings.warn(
            f"dedup_embedding_cosine: corpus is {n} rows × {dims} dims "
            f"= {pair_work:.2e} pair-work "
            f"(> _COSINE_MAX_PAIR_WORK={_COSINE_MAX_PAIR_WORK:.0e}); "
            "auto-switching from exact all-pairs to LSH candidates + "
            "exact rerank (approximate recall on non-near-dup pairs).",
            RuntimeWarning, stacklevel=2)
        return _lsh_top_pairs(spark, sf_dir)
    # ≥8 chunks so the block path is exercised even at fixture scale,
    # chunks capped at ~2048 rows so a block's cosine matrix stays ~33 MB.
    c_chunks = max(1, min(n, max(8, -(-n // 2048))))
    k = 50

    packed = (
        e.groupBy(F.pmod("vec_id", F.lit(c_chunks)).alias("cid"))
         .agg(F.collect_list(
             F.struct("vec_id", "label", "embedding")).alias("pack")))
    grid = packed.select(
        F.col("cid").alias("cid_a"), F.col("pack").alias("pack_a"),
        F.explode(F.sequence("cid", F.lit(c_chunks - 1))).alias("cid_b"))
    blocks = grid.join(
        packed.select(F.col("cid").alias("cid_b"),
                      F.col("pack").alias("pack_b")),
        "cid_b")

    def _unpack(pack):
        ids = np.fromiter((r["vec_id"] for r in pack), np.int64, len(pack))
        labels = np.fromiter((r["label"] for r in pack), np.int64, len(pack))
        m = np.stack([np.asarray(r["embedding"], np.float64) for r in pack])
        return ids, labels, m

    def _seq_norm(m: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(m.shape[0])
        for d in range(m.shape[1]):          # sequential fold == HOF order
            acc += m[:, d] * m[:, d]
        return np.sqrt(acc)

    def block_topk(batches):
        for pdfb in batches:
            for row in pdfb.itertuples(index=False):
                aids, alabels, am = _unpack(row.pack_a)
                bids, blabels, bm = _unpack(row.pack_b)
                an, bn = _seq_norm(am), _seq_norm(bm)
                acc = np.zeros((am.shape[0], bm.shape[0]))
                for d in range(am.shape[1]):  # sequential fold == HOF order
                    acc += am[:, d, None] * bm[None, :, d]
                cos = acc / (an[:, None] * bn[None, :])
                if row.cid_a == row.cid_b:
                    # diagonal block: both orientations present — keep a<b
                    ia, ib = np.nonzero(aids[:, None] < bids[None, :])
                else:
                    # off-diagonal: each unordered pair appears once;
                    # canonicalize to (min,max) below
                    ia, ib = np.nonzero(
                        np.ones((len(aids), len(bids)), bool))
                if not len(ia):
                    continue
                a_id, b_id = aids[ia], bids[ib]
                a_first = a_id < b_id
                va = np.where(a_first, a_id, b_id)
                vb = np.where(a_first, b_id, a_id)
                la = np.where(a_first, alabels[ia], blabels[ib])
                lb = np.where(a_first, blabels[ib], alabels[ia])
                c = cos[ia, ib]
                top = np.lexsort((vb, va, -c))[:k]
                yield pd.DataFrame({
                    "vec_a": va[top], "vec_b": vb[top],
                    "label_a": la[top].astype(np.int32),
                    "label_b": lb[top].astype(np.int32),
                    "cos_raw": c[top]})

    local = (blocks
             .repartition(spark.sparkContext.defaultParallelism,
                          "cid_a", "cid_b")
             .mapInPandas(
                 block_topk,
                 "vec_a long, vec_b long, label_a int, label_b int,"
                 " cos_raw double"))
    return (local
            .orderBy(F.col("cos_raw").desc(), "vec_a", "vec_b")
            .limit(50)
            .select("vec_a", "vec_b", "label_a", "label_b",
                    F.round("cos_raw", 6).alias("cosine")))


# ---------------------------------------------------------------------------
# udf_scalar — Arrow-vectorized scalar pandas_udf (wei → eth formatting)
# ---------------------------------------------------------------------------

def _wei_to_eth(wei: pd.Series) -> pd.Series:
    """Exact wei→eth decimal string: integer/string math only (no
    floats), vectorized over Arrow batches. The engine's stand-in for
    U256 money formatting (SURVEY.md §1.2 U256-as-string policy).

    Sign-aware (r12 shape-fuzz): zfill on a signed string pads AFTER
    the minus ('-2712649' → '-0000…2712649' → eth '-.000…'), so the
    sign is peeled first and the magnitude padded — a negative balance
    formats as '-0.000000000002712649', matching the oracle's twin.

    Wrapped with ``F.pandas_udf`` inside the query (not at module
    level) — decorating at import time would make Python workers parse
    the DDL return type with no active SparkSession."""
    w = wei.astype("int64")
    sign = pd.Series("", index=w.index).mask(w < 0, "-")
    s = w.abs().astype(str).str.zfill(19)
    return sign + s.str[:-18] + "." + s.str[-18:]


def eip55_checksum(address_hex: str) -> str:
    """EIP-55 checksummed-address normalization (the other SURVEY §2.10
    `udf_scalar` example). Ethereum uses pre-NIST Keccak padding, so
    hashlib's sha3_256 is NOT a substitute (a lookalike hash would emit
    plausible but WRONG checksums) — the real keccak-256 comes from
    pycryptodome when installed (C speed), else the pure-Python
    keccak-f[1600] in ``operators.keccak`` (spec-vector-pinned in
    tests/test_operators.py)."""
    addr = address_hex.lower().removeprefix("0x")
    try:
        from Crypto.Hash import keccak  # pycryptodome: ~1 µs/hash
        digest = keccak.new(digest_bits=256,
                            data=addr.encode()).hexdigest()
    except ImportError:
        from ..operators.keccak import keccak_256  # pure: ~0.5 ms/hash
        digest = keccak_256(addr.encode()).hex()
    return "0x" + "".join(
        c.upper() if c.isalpha() and int(digest[i], 16) >= 8 else c
        for i, c in enumerate(addr))


@register(
    "udf_eip55",
    # No DuckDB oracle ON PURPOSE: EIP-55 needs keccak-256, which no
    # SQL engine exposes — rows-only check from the driver; the exact
    # values are pinned instead by tests/test_operators.py (spec
    # vectors) and tests/test_oracle_parity.py's python-side recompute.
    tags=("llm", "udf"),
)
def udf_eip55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIP-55 address checksumming over a derived address column: a
    deterministic 40-hex-digit pseudo-address per customer (md5-based,
    reproducible on any engine) checksummed to its canonical mixed-case
    form by an Arrow-vectorized pandas_udf.

    The reference's EVM entities carry Ethereum addresses
    (evm_adapter.rs block/tx fields; README.md:187-196 logs/events);
    EIP-55 is the canonical normalization a user-facing surface applies
    to them.

    Scale: address derivation (md5) is JVM-side codegen; only the
    keccak checksum crosses to Python, Arrow-batched, embarrassingly
    parallel (no shuffle). The pandas_udf runs the numpy-vectorized
    batch keccak (`operators.keccak.eip55_checksum_batch`, ~10 µs/row
    at Arrow batch sizes, ~44× the scalar) — fact-side address columns
    are viable in pure Python; pycryptodome's C core, when installed,
    buys a further ~3×."""
    from ..operators.keccak import eip55_checksum_batch

    checksum = F.pandas_udf(
        lambda s: pd.Series(eip55_checksum_batch(s.tolist()),
                            index=s.index),
        "string")
    return (T(spark, sf_dir, "customer")
            .select("c_custkey",
                    F.expr("concat(substring(md5(cast(c_custkey as string"
                           ")), 1, 20), substring(md5(c_name), 1, 20))")
                     .alias("addr"))
            .withColumn("addr_eip55", checksum("addr")))


@register(
    "udf_scalar",
    # sign-aware twin of _wei_to_eth (r12 shape-fuzz: lpad of a signed
    # varchar embedded the minus inside the zero padding)
    oracle="""
    WITH w AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS wei
      FROM lineitem WHERE l_orderkey < 100),
    m AS (
      SELECT *, CASE WHEN wei < 0 THEN '-' ELSE '' END AS sgn,
             lpad(CAST(abs(wei) AS VARCHAR), 19, '0') AS mag
      FROM w)
    SELECT l_orderkey, l_linenumber, wei,
           sgn || substr(mag, 1, 1) || '.' || substr(mag, 2, 18) AS eth
    FROM m
    """,
    tags=("llm", "udf"),
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom scalar function via Arrow-vectorized pandas_udf: format a
    wei-denominated BIGINT as an exact 18-decimal eth string.

    Scale: pandas_udf = Arrow batch transfer + vectorized pandas ops —
    the ONLY acceptable Python-scalar path at 100 TB (row-at-a-time
    `F.udf` is 10-100× slower; SURVEY.md §2.10). The arithmetic stays
    JVM-side; only the final string format crosses to Python."""
    li = (T(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 100)
          .select("l_orderkey", "l_linenumber",
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                   .alias("wei")))
    wei_to_eth = F.pandas_udf(_wei_to_eth, "string")
    return li.withColumn("eth", wei_to_eth("wei"))


# ---------------------------------------------------------------------------
# udaf_grouped — grouped custom aggregate via applyInPandas (Gini)
# ---------------------------------------------------------------------------

def _gini_ppm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Gini coefficient of order value per group, in exact integer ppm.

    gini = (2*Σ i·x(i) − (n+1)·Σx) / (n·Σx)  with x ascending, 1-based i.
    All-integer numerators/denominators (cents), one final double
    division + floor — bit-identical to the oracle's window-SQL twin.
    """
    import numpy as np

    xa = np.sort(pdf["cents"].to_numpy(np.int64), kind="stable")
    n = len(xa)
    # exact accumulation WITHOUT per-row python loops, with chunk-local
    # int64 bounds that are INDEPENDENT of n (the r12 sf10 sweep caught
    # the previous global-rank form overflowing int64: rank 5e6 ×
    # 5.5e7 cents × 65536-element sums passed 2^63 and three gini_ppm
    # went NEGATIVE). Decompose Σ x_j·(lo+j) = lo·Σx_j + Σ x_j·j with
    # j the LOCAL 1..65536 rank: per-element ≤ 65536·max_cents and the
    # chunk sum ≤ 65536²·max_cents ≈ 2.4e17 < 2^63 for ANY group size;
    # cross-chunk totals are python ints — exactly the oracle's
    # DECIMAL sums.
    t = s = 0
    for lo in range(0, n, 65536):
        hi = min(lo + 65536, n)
        chunk = xa[lo:hi]
        ct = int(chunk.sum())
        s_local = int((chunk * np.arange(1, hi - lo + 1,
                                         dtype=np.int64)).sum())
        t += ct
        s += lo * ct + s_local
    # mirror the oracle's evaluation order bit-for-bit: the EXACT
    # integer numerator/denominator each convert to double once
    # (int→double is correctly rounded on both engines), then one IEEE
    # multiply, one divide, one floor — the previous float(1e6·int)
    # product lost precision above 2^53 at sf10 magnitudes
    import math
    num, den = 2 * s - (n + 1) * t, n * t
    ppm = math.floor(1_000_000.0 * float(num) / float(den))
    return pd.DataFrame({"o_orderstatus": [pdf["o_orderstatus"].iloc[0]],
                         "n": [n], "gini_ppm": [ppm]})


@register(
    "udaf_grouped",
    oracle="""
    WITH c AS (SELECT o_orderstatus,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    r AS (SELECT o_orderstatus, cents,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY cents) AS i
          FROM c)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(1000000.0 * (2 * sum(CAST(i AS DECIMAL(18, 0))
                                            * cents)
                                   - (count(*) + 1)
                                     * CAST(sum(cents)
                                            AS DECIMAL(38, 0)))
                      / (count(*) * CAST(sum(cents) AS DECIMAL(38, 0))))
             AS BIGINT) AS gini_ppm
    FROM r GROUP BY o_orderstatus
    """,
    tags=("llm", "udf"),
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregate via applyInPandas: Gini coefficient of
    order value (cents) per order status — a UDAF the built-in
    aggregate set cannot express.

    Scale: applyInPandas = one shuffle on the group key, then one Arrow
    batch per group in Python. Groups here are few and bounded; for
    high-cardinality groups the same code runs unchanged, and for
    skewed giant groups pre-aggregate or sample before the Python hop.
    (Σ i·x fits int64 to ~10⁹ rows/group at cent scale.)"""
    o = (T(spark, sf_dir, "orders")
         .select("o_orderstatus",
                 F.round(F.col("o_totalprice") * 100).cast("long")
                  .alias("cents")))
    return (o.groupBy("o_orderstatus")
             .applyInPandas(_gini_ppm,
                            schema="o_orderstatus string, n long, gini_ppm long")
             .select("o_orderstatus", "n", "gini_ppm"))


# ---------------------------------------------------------------------------
# udtf_expand — one-row→many chunk expansion (LLM context chunking)
# ---------------------------------------------------------------------------

@register(
    "udtf_expand",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
    ch AS (SELECT doc_id,
                  unnest([{'idx': CAST((s - 1) // 10 AS BIGINT),
                           'chunk': array_to_string(toks[s:s+19], ' '),
                           'n': CAST(len(toks[s:s+19]) AS BIGINT)}
                          for s in range(1, len(toks) + 1, 10)]) AS c
           FROM tok)
    SELECT doc_id, c.idx AS chunk_idx, c.chunk AS chunk_text,
           c.n AS chunk_tokens
    FROM ch
    """,
    tags=("llm", "udf"),
)
def udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row→many table function: split each document into 20-token
    chunks with stride 10 (50% overlap) — the standard LLM context-
    window chunking op. Expressed with sequence+transform+inline
    (JVM-side, whole-stage codegen) rather than a Python UDTF: same
    semantics, no Python hop (SURVEY.md §2.10 `udtf_expand` notes
    `explode(transform(...))` as the preferred form).

    Scale: scan + narrow explode; output is ~2× input tokens. No
    shuffle at all."""
    d = T(spark, sf_dir, "documents").withColumn(
        "toks", F.expr("split(text, ' ')"))
    return (d.select(
        "doc_id",
        F.expr("""
          inline(transform(sequence(1, size(toks), 10),
            s -> struct(cast((s - 1) div 10 as bigint) as chunk_idx,
                        concat_ws(' ', slice(toks, s, 20)) as chunk_text,
                        cast(size(slice(toks, s, 20)) as bigint)
                          as chunk_tokens)))
        """)))


# ---------------------------------------------------------------------------
# udf_decode_event — ABI-decode stub (reference's `decoded_event`)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_SELECTOR_TO_NAME = {hashlib.md5(t.encode()).hexdigest()[:8]: t
                     for t in _EVENT_TYPES}

_HEX16 = re.compile(r"[0-9a-f]{16}")
#: encoder's null word: non-hex padding the decoder maps back to NULL
_NULL_WORD = "." * 16


def _decode_events(batches):
    """mapInPandas decoder: selector → event name, hex data → ints.

    Deterministic stand-in for EVM ABI decoding (reference declares a
    `decoded_event` column, README.md:169-196, but ships no decoder and
    no keccak is available here); the hex plumbing — selector lookup +
    fixed-width word parsing — is the real ABI shape.
    """
    def word(h):
        """16-hex-char word → signed int64; None for the null word
        (non-hex padding) — EVM words are two's complement, and the
        r12 shape-fuzz showed the unsigned int(h, 16) parse breaks on
        negative cents (and lpad-8 TRUNCATED a negative k's 16-char
        two's-complement image outright)."""
        if not isinstance(h, str) or not _HEX16.fullmatch(h):
            return None
        v = int(h, 16)
        return v - (1 << 64) if v >= (1 << 63) else v

    for pdf in batches:
        name = pdf["selector"].map(_SELECTOR_TO_NAME).fillna("unknown")
        cents = pdf["data_hex"].str[:16].map(word)
        k = pdf["data_hex"].str[16:32].map(word)
        yield pd.DataFrame({"event_id": pdf["event_id"],
                            "event_name": name,
                            "value_cents": cents.astype("Int64"),
                            "k": k.astype("Int64")})


@register(
    "udf_decode_event",
    # k's oracle ladder mirrors Spark's STRING→LONG cast of the
    # get_json_object text (probed r12): integral strings parse
    # exactly via the trim+regex arm (full int64 precision); decimal
    # strings TRUNCATE toward zero through the double arm ('1.9' → 1,
    # where DuckDB's bare BIGINT cast rounds to 2); non-numeric text
    # and >int64 overflow are NULL; malformed JSON is NULL
    # (json_valid guard).
    oracle="""
    WITH src AS (
      SELECT event_id, value,
             -- decode is a REGISTRY lookup: selectors outside the
             -- known event-signature set decode to 'unknown', exactly
             -- like an unregistered ABI event sig (r12 shape-fuzz:
             -- planted rare types must not pass through verbatim)
             CASE WHEN event_type IN ('click', 'error', 'purchase',
                                      'signup', 'view')
                  THEN event_type ELSE 'unknown' END AS event_type,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS s
      FROM events WHERE event_id < 2000)
    SELECT event_id, event_type AS event_name,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           CASE WHEN regexp_matches(trim(s), '^[+-]?[0-9]+$')
                THEN TRY_CAST(trim(s) AS BIGINT)
                ELSE TRY_CAST(trunc(TRY_CAST(trim(s) AS DOUBLE))
                              AS BIGINT) END AS k
    FROM src
    """,
    tags=("llm", "udf"),
)
def udf_decode_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log/event ABI-decode: JVM side *encodes* each event into a
    synthetic log record (topic0 selector = md5(event_type)[:8], data =
    fixed-width hex words), then an Arrow-batched mapInPandas decoder
    recovers name + params. The oracle computes the expected decode
    directly from source columns, so the hex round-trip is verified
    end-to-end.

    Scale: encode stays in codegen; decode is Arrow-batched Python over
    a projected 3-column frame (prune before the Python hop)."""
    def word(c):
        # one 16-hex-char two's-complement int64 word; NULL encodes as
        # a non-hex padding word so the OTHER word stays decodable
        # (a bare concat() nulls the whole payload on one null field,
        # and lpad-8 truncated negative values' 16-char images — both
        # r12 shape-fuzz finds)
        return F.coalesce(F.lower(F.lpad(F.hex(c), 16, "0")),
                          F.lit(_NULL_WORD))

    e = (T(spark, sf_dir, "events")
         .filter(F.col("event_id") < 2000)
         .select(
             "event_id",
             F.expr("substring(md5(event_type), 1, 8)").alias("selector"),
             F.concat(
                 word(F.round(F.col("value") * 100).cast("long")),
                 word(F.get_json_object("props", "$.k").cast("long")),
             ).alias("data_hex")))
    return e.mapInPandas(
        _decode_events,
        schema="event_id long, event_name string, value_cents long, k long")


# ---------------------------------------------------------------------------
# op_multimodal_meta — binary columns + batched decode plumbing
# ---------------------------------------------------------------------------

def _decode_media(batches):
    """mapInPandas media "decoder" over binary payloads.

    The container has no image/audio libs, so the pixel/sample decode
    is STUBBED with a deterministic fake (documented; see
    `real_media_decode` below for the gated real path). Everything
    Spark-side — binary column, typed metadata, Arrow batch shape,
    projected schema — is the real 100 TB plumbing.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        # null-safe: a NULL payload (upstream NULL text/bytes) yields
        # NULL metadata, matching the oracle's strlen(NULL)/md5(NULL)
        # — the bare .astype("int64")/md5(None) pair CRASHED the
        # worker on one null row (r12 null-seed fuzz); one bad asset
        # in 10^9 must not kill the decode stage
        size = payloads.str.len().astype("Int64")
        digest = payloads.map(
            lambda b: hashlib.md5(b).hexdigest()
            if isinstance(b, (bytes, bytearray)) else None)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "mime": pdf["mime"],
            "size_bytes": size,
            "content_md5": digest,
            "fake_width": (size % 640).astype("Int64"),
            "fake_height": ((size * 7) % 480).astype("Int64"),
            "n_frames": (size % 16 + 1).astype("Int64"),
        })


def real_media_decode(payload: bytes, mime: str):
    """Gated real decoder: import-try per SURVEY.md stub policy."""
    try:
        from PIL import Image  # noqa: F401  (not installed in container)
    except ImportError as exc:
        raise NotImplementedError(
            "media decode requires pillow/librosa; container ships neither "
            "— deterministic fake used in op_multimodal_meta") from exc


@register(
    "op_multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(strlen(text) AS BIGINT) AS size_bytes,
           md5(text) AS content_md5,
           CAST(strlen(text) % 640 AS BIGINT) AS fake_width,
           CAST((strlen(text) * 7) % 480 AS BIGINT) AS fake_height,
           CAST(strlen(text) % 16 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def op_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat content as an opaque BINARY
    payload with typed metadata, run a batched mapInPandas "decode"
    (size, checksum, fake dims / frame count — the real pixel decode is
    stubbed; `real_media_decode` gates the library path). Payloads here
    are the documents' UTF-8 bytes so the oracle can verify the binary
    round-trip (md5 of bytes == md5 of text).

    Scale: binary columns ride Parquet as-is (no shuffle); decode is
    embarrassingly parallel Arrow batches — exactly how image/audio
    feature extraction lays out at 100 TB, with
    `spark.sql.files.maxPartitionBytes` sizing batches."""
    d = (T(spark, sf_dir, "documents")
         .select("doc_id",
                 F.encode("text", "utf-8").alias("payload"),
                 F.lit("text/plain").alias("mime")))
    return d.mapInPandas(
        _decode_media,
        schema=("doc_id long, mime string, size_bytes long, "
                "content_md5 string, fake_width long, fake_height long, "
                "n_frames long"))


# ---------------------------------------------------------------------------
# op_multimodal_frames — frame-sample + resize expansion over binary media
# ---------------------------------------------------------------------------

def _sample_frames(batches):
    """mapInPandas frame "decoder": one input row per (doc, frame_idx),
    emits the sampled frame's byte offset, a content fingerprint, and
    resized output dims. The pixel work is the deterministic stub
    (`real_media_decode` gates the library path); the Arrow batch shape,
    the row expansion upstream, and the projected 4-column input are the
    real plumbing."""
    for pdf in batches:
        sz, fi, w, h = (pdf["sz"], pdf["frame_idx"], pdf["w"], pdf["h"])
        small = w <= 256
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "frame_idx": fi,
            "frame_off": fi * (sz // (sz % 16 + 1)),
            "frame_md5": [
                hashlib.md5(f"{d}:{i}:{s}".encode()).hexdigest()
                for d, i, s in zip(pdf["doc_id"], fi, sz)],
            "out_w": w.where(small, 256),
            # divisor clamp: the w<=256 branch (incl. w=0) never uses it
            "out_h": h.where(small, h * 256 // w.where(w > 0, 1)),
        })


@register(
    "op_multimodal_frames",
    oracle="""
    WITH meta AS (
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS sz,
             CAST(strlen(text) % 16 + 1 AS BIGINT) AS nf,
             CAST(strlen(text) % 640 AS BIGINT) AS w,
             CAST((strlen(text) * 7) % 480 AS BIGINT) AS h
      FROM documents)
    SELECT doc_id,
           CAST(fi AS BIGINT) AS frame_idx,
           CAST(fi * (sz // nf) AS BIGINT) AS frame_off,
           md5(doc_id || ':' || fi || ':' || sz) AS frame_md5,
           CAST(CASE WHEN w <= 256 THEN w ELSE 256 END AS BIGINT) AS out_w,
           CAST(CASE WHEN w <= 256 THEN h ELSE h * 256 // w END AS BIGINT)
             AS out_h
    FROM meta, unnest(range(0, nf, 4)) AS t(fi)
    """,
    tags=("llm", "multimodal"),
)
def op_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample + resize over multimodal payloads: every 4th frame of
    each document's (stubbed) n_frames is expanded to its own row
    JVM-side — `explode(sequence(0, nf-1, 4))`, codegen, no Python — and
    only the sampled frames cross the Arrow boundary, where the batched
    "decoder" emits byte offset, fingerprint, and 256-max-dim resize
    targets (aspect-preserving integer math, same on both engines).

    Scale: sample-then-decode is the whole point — the expansion and the
    sampling predicate stay in the JVM, so a 100 TB video corpus sends
    25% of frames (and none of the payload bytes the decode doesn't
    touch) into Python; batch size rides `maxPartitionBytes` exactly as
    in `op_multimodal_meta`, and there is no shuffle anywhere."""
    d = (T(spark, sf_dir, "documents")
         .select("doc_id",
                 F.length(F.encode("text", "utf-8")).cast("long")
                  .alias("sz"))
         .withColumn("nf", F.col("sz") % 16 + 1)
         .withColumn("w", F.col("sz") % 640)
         .withColumn("h", (F.col("sz") * 7) % 480)
         .select("doc_id", "sz", "w", "h",
                 F.explode(F.expr("sequence(0L, nf - 1, 4L)"))
                  .alias("frame_idx")))
    return d.mapInPandas(
        _sample_frames,
        schema=("doc_id long, frame_idx long, frame_off long, "
                "frame_md5 string, out_w long, out_h long"))


# ---------------------------------------------------------------------------
# op_embedding_quantize — int8 storage quantization (4x compression)
# ---------------------------------------------------------------------------

@register(
    "op_embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS sc,
             embedding
      FROM embeddings
    ), q AS (
      SELECT vec_id, sc,
             list_transform(embedding, x -> CASE WHEN sc = 0 THEN 0
               ELSE CAST(floor(CAST(x AS DOUBLE) / sc * 127.0 + 0.5)
                         AS BIGINT) END) AS qv
      FROM s
    )
    SELECT vec_id,
           CAST(floor(sc * 1048576.0) AS BIGINT) AS scale_q20,
           list_aggregate(list_transform(qv, v -> abs(v)), 'max') AS max_q,
           CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT)
             AS sum_q2,
           array_to_string(qv, ',') AS q_csv
    FROM q
    """,
    tags=("llm", "similarity"),
)
def op_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage
    half of a vector pipeline (4× smaller at rest; IVF/LSH indexes and
    rerank kernels read the int8 form and rescale). Per-vector absmax
    scale; q_i = round(x_i/scale·127) with floor(·+0.5) so rounding is
    identical on every engine.

    Determinism: abs/max over float32 are exact, the scale is surfaced
    in 2^-20 fixed-point, and every verified output (max|q|, Σq², the
    quantized vector itself as CSV) is integer — no float fold-order
    anywhere, same contract as `op_ann_ivf`.

    Scale: pure narrow projection — no shuffle, whole-stage codegen,
    runs at scan speed over 100 TB of vectors."""
    e = (T(spark, sf_dir, "embeddings")
         .withColumn("sc", F.expr(
             "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
         .withColumn("qv", F.expr("""
             transform(embedding, x -> CASE WHEN sc = 0D THEN 0L
               ELSE CAST(floor(CAST(x AS DOUBLE) / sc * 127.0 + 0.5)
                         AS BIGINT) END)""")))
    return e.select(
        "vec_id",
        F.expr("CAST(floor(sc * 1048576.0) AS BIGINT)").alias("scale_q20"),
        F.expr("array_max(transform(qv, v -> abs(v)))").alias("max_q"),
        F.expr("aggregate(transform(qv, v -> v * v), 0L,"
               " (a, b) -> a + b)").alias("sum_q2"),
        F.expr("array_join(qv, ',')").alias("q_csv"))


# ---------------------------------------------------------------------------
# op_ann_ivf — trained IVF index build (iterative Lloyd's k-means)
# ---------------------------------------------------------------------------

_IVF_K = 8
_IVF_ITERS = 2
#: fixed-point quantization scale (2^20 ≈ 1e-6 resolution). float→double
#: is exact, ×2^20 only shifts the exponent, floor is exact — so the
#: quantized vectors are identical integers on every engine and every
#: partitioning, and ALL k-means arithmetic below is closed over BIGINT
#: (64 dims × (2^21)^2 ≈ 3e14 per distance, far inside int64).
_IVF_Q = "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)"

_SPARK_SQDIST = ("aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
                 " 0L, (acc, v) -> acc + v)")
_DUCK_SQDIST = ("CAST(list_sum(list_transform(range(1, 65),"
                " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)")


def _ivf_oracle(k: int = _IVF_K) -> str:
    """Generate the DuckDB twin: the same fixed number of Lloyd's
    iterations unrolled as CTEs (assignment → per-dim integer-mean
    update → empty-cluster fallback). ``k`` parameterizes the cell
    count (r11: op_semdedup trains its own, larger model)."""
    dist = _DUCK_SQDIST.format(a="s.v", b="c.cv")
    sql = [f"""
    WITH scaled AS (
      SELECT vec_id, list_transform(embedding, x -> {_IVF_Q}) AS v
      FROM embeddings
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             v AS cv
      FROM scaled ORDER BY vec_id LIMIT {k}
    )"""]
    for it in range(_IVF_ITERS):
        sql.append(f""", a{it} AS (
      SELECT vec_id, cid, v FROM (
        SELECT s.vec_id, c.cid, s.v,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM scaled s CROSS JOIN c{it} c) WHERE rn = 1
    ), u{it} AS (
      SELECT cid, list(c ORDER BY d) AS cv FROM (
        SELECT cid, d,
               CAST(floor(CAST(SUM(v[d]) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM a{it}, range(1, 65) AS t(d) GROUP BY cid, d)
      GROUP BY cid
    ), c{it + 1} AS (
      SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
      FROM c{it} p LEFT JOIN u{it} u ON p.cid = u.cid
    )""")
    sql.append(f"""
    SELECT vec_id, cid AS cluster_id, dist AS dist_scaled FROM (
      SELECT s.vec_id, c.cid, {dist} AS dist,
             row_number() OVER (PARTITION BY s.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM scaled s CROSS JOIN c{_IVF_ITERS} c) WHERE rn = 1
    """)
    return "".join(sql)


@register("op_ann_ivf", oracle=_ivf_oracle(),
          tags=("llm", "similarity", "iterative"))
def op_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN index build: Lloyd's k-means over the embedding
    corpus (k=8, 2 fixed iterations, init = first k vectors by id)
    producing the cell assignment every IVF index stores;
    `op_similarity` is then the per-cell rerank kernel and
    `op_similarity_lsh` the untrained-bucket alternative.

    The iterative-algorithm shape on Spark: per iteration the k×64-int
    model is embedded as a literal array (k ≤ `_IVF_LITERAL_MAX_K`;
    larger models ship as a one-row broadcast instead — see
    `_ivf_assign`) and assignment is a pure HOF projection — NO join
    and NO exchange anywhere in the assignment, the corpus only ever
    streams (the plan shows zero Exchanges before the update
    aggregate). The update is one two-phase aggregate over
    (cluster, dim) — only k×64 partial rows cross its exchange — plus a
    k-row collect of new model state to the driver: spark.ml's KMeans
    topology, expressed in DataFrame ops.

    Determinism contract: vectors are quantized to 2^-20 fixed-point
    (float→double exact, exponent shift, floor — identical on every
    engine), so assignment distances and centroid means stay in exact
    BIGINT arithmetic end-to-end: no float fold-order anywhere, and the
    DuckDB oracle (same iterations unrolled as CTEs) hash-matches.

    Scale: the corpus never shuffles for assignment — only the
    (clusters × dims) partial-aggregate rows move; model state is k×64
    ints however large the corpus. Empty clusters keep their previous
    centroid (COALESCE on both engines)."""
    e, cents = _ivf_model(spark, sf_dir)
    return _ivf_assign(e, cents).select(
        "vec_id", F.col("cid").alias("cluster_id"),
        F.col("dist").alias("dist_scaled"))


#: Above this k the model stops riding the plan as a literal: a k×64
#: BIGINT literal is ~k·64 expression-tree leaves serialized into every
#: task's plan (and re-parsed per codegen), measured plan-text growth
#: ~0.5 MB at k=1024 — so large models ship as DATA via a one-row
#: broadcast instead. Both paths keep the corpus side exchange-free.
_IVF_LITERAL_MAX_K = 256


def _ivf_assign(e: DataFrame, cs: list) -> DataFrame:
    """Shuffle-free assignment. Small k (≤ `_IVF_LITERAL_MAX_K`): the
    k×64-int model rides into the plan as a literal array and the
    per-row argmin is a HOF projection — no join, no exchange,
    scan-speed over any corpus size. Large k: same argmin, but the
    model arrives as a ONE-ROW broadcast DataFrame (broadcast
    nested-loop join of a single row) — the corpus side still never
    exchanges, and the plan stays model-size-independent (the
    centroids are task data, not plan text).
    `array_position` takes the FIRST minimum, i.e. the lowest cid on
    ties — the same (dist, cid) order the oracle's window uses."""
    if len(cs) <= _IVF_LITERAL_MAX_K:
        prepared, cents = e, _ivf_literal(cs)
    else:
        spark = e.sparkSession
        model = spark.createDataFrame(
            [(list(map(list, cs)),)], "cents array<array<bigint>>")
        prepared, cents = e.crossJoin(F.broadcast(model)), "cents"
    out = (prepared.withColumn(
        "dists",
        F.expr(f"transform({cents}, "
               f"c -> {_SPARK_SQDIST.format(a='v', b='c')})"))
        .withColumn("dist", F.expr("array_min(dists)"))
        .withColumn("cid", F.expr(
            "CAST(array_position(dists, dist) - 1 AS BIGINT)")))
    return out.drop("cents") if cents == "cents" else out


def _ivf_literal(cs: list) -> str:
    """The k×dim integer model as a SQL array-of-arrays literal. The
    outer CAST keeps the literal typed even when the model is EMPTY
    (an empty corpus slice trains zero centroids; a bare ``array()``
    cannot type-resolve inside ``transform`` and the whole plan fails
    instead of yielding the empty result)."""
    body = "array(" + ",".join(
        "array(" + ",".join(f"{x}L" for x in c) + ")" for c in cs) + ")"
    return f"CAST({body} AS array<array<bigint>>)"


def _ivf_model(spark: SparkSession, sf_dir: str, k: int = _IVF_K):
    """Train the IVF model (Lloyd's, `_IVF_ITERS` rounds, integer-exact)
    and return (quantized corpus scan, final k×64-int centroid list).
    ``k`` defaults to the shared index size; op_semdedup passes its
    own (r11)."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id",
                 F.expr(f"transform(embedding, x -> {_IVF_Q})").alias("v")))
    cents = [list(r.v) for r in e.orderBy("vec_id").limit(k)
             .collect()]  # driver-ok: k seed rows = model state
    for _ in range(_IVF_ITERS):
        upd = (_ivf_assign(e, cents)
               .select("cid", F.posexplode("v").alias("d", "x"))
               .groupBy("cid", "d")
               .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
               .withColumn("c", F.floor(
                   F.col("s").cast("double") / F.col("n")).cast("long"))
               .groupBy("cid")
               .agg(F.array_sort(
                   F.collect_list(F.struct("d", "c"))).alias("sc"))
               .selectExpr("cid", "transform(sc, p -> p.c) AS cv"))
        new = {r["cid"]: list(r["cv"]) for r
               in upd.collect()}  # driver-ok: k centroid rows
        # range over the ACTUAL model size: a corpus slice with fewer
        # than k rows seeds fewer centroids (empty slice → none)
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return e, cents


# ---------------------------------------------------------------------------
# op_ann_ivf_search — IVF query path (probe nprobe cells → exact rerank)
# ---------------------------------------------------------------------------

#: query set size, probed cells per query, results per query.
_IVFS_NQ, _IVFS_NPROBE, _IVFS_TOPK = 5, 2, 5


def _ivf_search_oracle() -> str:
    """DuckDB twin: the trained centroids (same unrolled CTEs as
    `_ivf_oracle`), then probe + candidate join + exact rerank."""
    base = _ivf_oracle()
    prefix = base[:base.rindex("SELECT vec_id, cid AS cluster_id")]
    qdist = _DUCK_SQDIST.format(a="q.qv", b="c.cv")
    cdist = _DUCK_SQDIST.format(a="q.qv", b="s.v")
    adist = _DUCK_SQDIST.format(a="s.v", b="c.cv")
    return prefix + f""", qs AS (
      SELECT vec_id AS query_id, v AS qv FROM scaled
      ORDER BY vec_id LIMIT {_IVFS_NQ}
    ), probes AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {qdist}, c.cid) AS rn
        FROM qs q CROSS JOIN c{_IVF_ITERS} c) WHERE rn <= {_IVFS_NPROBE}
    ), assigned AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {adist}, c.cid) AS rn
        FROM scaled s CROSS JOIN c{_IVF_ITERS} c) WHERE rn = 1
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dist_scaled
    FROM (
      SELECT q.query_id, s.vec_id, {cdist} AS dist_scaled,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {cdist}, s.vec_id) AS rank
      FROM probes p
      JOIN assigned a ON a.cid = p.cid
      JOIN scaled s ON s.vec_id = a.vec_id
      JOIN qs q ON q.query_id = p.query_id)
    WHERE rank <= {_IVFS_TOPK}
    """


@register("op_ann_ivf_search", oracle=_ivf_search_oracle(),
          tags=("llm", "similarity", "iterative"))
def op_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ANN *query* path over the trained index (`op_ann_ivf` is
    the build): each query probes its `nprobe` nearest cells (literal
    k×64-int model — a driver-side constant, no shuffle to rank cells),
    candidates are the corpus rows assigned to probed cells (one
    cid equi-join against the shuffle-free assignment scan), and an
    exact integer rerank keeps top-k per query. This is the recall
    lever every IVF index exposes: nprobe=k degenerates to exact search,
    nprobe=1 is fastest/lowest recall.

    Determinism: same 2^-20 fixed-point contract as the build — every
    distance is BIGINT, ties break on vec_id/cid identically in both
    engines.

    Scale: at 10^9 vectors the probed-cell candidate set is
    nprobe/k of the corpus per query; the rerank shuffle is keyed on
    query_id (bounded by queries × candidates). The cell partitioning
    this search assumes is exactly what `op_ann_ivf` materializes —
    on disk, cluster-partitioned parquet turns the candidate join into
    partition pruning."""
    e, cents = _ivf_model(spark, sf_dir)
    carr = _ivf_literal(cents)
    qdists = f"transform({carr}, c -> {_SPARK_SQDIST.format(a='v', b='c')})"
    queries = (e.orderBy("vec_id").limit(_IVFS_NQ)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.expr(qdists).alias("qdists")))
    probes = (queries
              .select("query_id", "qv", F.explode(F.expr(
                  # grid bounded by the ACTUAL model size, not the k
                  # constant: a corpus slice smaller than k trains
                  # fewer cells and element_at past size(qdists) is an
                  # ANSI out-of-bounds error, not a NULL
                  f"slice(array_sort(transform("
                  f" sequence(0L, CAST(size(qdists) - 1 AS BIGINT)),"
                  f" i -> struct(element_at(qdists, CAST(i + 1 AS INT))"
                  f" AS d, i AS cid))), 1, {_IVFS_NPROBE})")).alias("p"))
              .select("query_id", "qv", F.col("p.cid").alias("cid")))
    assigned = _ivf_assign(e, cents).select("vec_id", "v", "cid")
    cand = probes.join(assigned, "cid")
    scored = cand.select(
        "query_id", "vec_id",
        F.expr(_SPARK_SQDIST.format(a="qv", b="v")).alias("dist_scaled"))
    w = W.partitionBy("query_id").orderBy("dist_scaled", "vec_id")
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= _IVFS_TOPK)
            .select("query_id", "rank", "vec_id", "dist_scaled"))


# ---------------------------------------------------------------------------
# udf_embedding — Arrow-vectorized vector transform (L2 normalize)
# ---------------------------------------------------------------------------

def _l2_normalize(col: pd.Series) -> pd.Series:
    """Vectorized L2 normalization over Arrow list<float> batches.
    Wrapped with F.pandas_udf inside the query (module-level decoration
    breaks Python workers — no active session to parse the DDL type)."""
    import numpy as np

    def norm_one(v):
        a = np.asarray(v, dtype="float64")
        n = float(np.sqrt((a * a).sum()))
        return (a / n).tolist() if n > 0.0 else a.tolist()

    return col.apply(norm_one)


@register(
    "udf_embedding",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DUCK_NORM} AS nrm, embedding
               FROM embeddings)
    SELECT vec_id, round(nrm, 6) AS l2_norm,
           round(CAST(embedding[1] AS DOUBLE) / nrm, 6) AS unit0,
           -- zero vector: the normalizer leaves it as-is (cannot
           -- normalize), so its unit self-dot is exactly 0.0 — not
           -- the 0/0 NaN a bare ratio yields (r12 shape-fuzz; unit0
           -- stays NaN-on-both by construction)
           CASE WHEN nrm = 0 THEN 0.0
                ELSE round({_duck_dot('embedding', 'embedding')}
                           / (nrm * nrm), 6) END AS unit_norm_sq
    FROM e
    """,
    tags=("llm", "udf", "similarity"),
)
def udf_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column transform via Arrow-vectorized pandas_udf:
    L2-normalize each vector (array<float> → array<double> unit vector),
    then project verification scalars (norm, first unit component, unit
    self-dot ≈ 1). The normalized column itself is the product — the
    scalars exist so the oracle can value-check the math.

    Scale: the pandas_udf moves vectors Arrow-batched into numpy —
    the pattern for any per-vector Python math at 100 TB; JVM HOFs
    (`aggregate`/`zip_with`, used by the similarity ops) stay preferred
    when the expression fits builtins."""
    normalize = F.pandas_udf(_l2_normalize, "array<double>")
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "embedding", F.expr(_SPARK_NORM).alias("nrm"))
         .withColumn("unit", normalize("embedding")))
    return e.select(
        "vec_id",
        F.round("nrm", 6).alias("l2_norm"),
        F.round(F.expr("unit[0]") * F.col("nrm") / F.col("nrm"), 6)
         .alias("unit0"),
        F.round(F.expr(_spark_dot("unit", "unit")), 6).alias("unit_norm_sq"))


# ---------------------------------------------------------------------------
# dedup_embedding_lsh — LSH-bucketed embedding near-dup (the >131k path)
# ---------------------------------------------------------------------------

@register(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding, {_DUCK_NORM} AS nrm,
                      CAST({_duck_bucket('embedding')} AS BIGINT) AS bucket
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round({_duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6)
             AS cosine
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY {_duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) DESC,
             a.vec_id, b.vec_id
    LIMIT 50
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via LSH candidates: the scale path past
    `dedup_embedding_cosine`'s `_COSINE_MAX_PAIR_WORK` (that op
    auto-switches to THIS plan, `_lsh_top_pairs`, beyond the cap) —
    same top-50 pair report, but candidates are restricted to vectors
    sharing a hyperplane-sign bucket (a true near-dup pair has cosine
    near 1, so its sign pattern almost surely agrees on every plane;
    recall on ACTUAL near-dups is high even though distant pairs are
    pruned; see `op_similarity_lsh_multiprobe` for the band-OR recall
    lever when it is not).

    Scale: bucketing is a narrow per-row transform; the self-join
    shuffles on the uniform bucket key; widen `_N_PLANES` with corpus
    size so expected bucket occupancy stays bounded (2^16 buckets at
    10^9 vectors keeps buckets at ~15k rows → ~10^8 exact rerank pairs
    per bucket group TOTAL, executor-sized) — the same
    bucket-count-scales-with-n discipline every LSH op here documents.
    Exact cosine runs on candidates only; global top-k is a
    TakeOrderedAndProject, never a full sort. Dot products fold
    left-to-right identically on both engines (HOF `aggregate` /
    `list_sum`), so the doubles are bit-stable cross-engine."""
    return _lsh_top_pairs(spark, sf_dir)


def _lsh_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body of `dedup_embedding_lsh` and the above-cap branch of
    `dedup_embedding_cosine`: hyperplane-sign bucket equi-self-join,
    exact cosine on candidates, TakeOrderedAndProject top-50."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "label", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm"),
                 F.expr(_spark_bucket("embedding")).cast("long")
                  .alias("bucket")))
    a, b = e.alias("a"), e.alias("b")
    scored = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                     & (F.col("a.vec_id") < F.col("b.vec_id")))
               .withColumn(
                   "cos_raw",
                   F.expr(_spark_dot("a.embedding", "b.embedding"))
                   / (F.col("a.nrm") * F.col("b.nrm"))))
    return (scored
            .orderBy(F.col("cos_raw").desc(), "a.vec_id", "b.vec_id")
            .limit(50)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.col("a.label").alias("label_a"),
                    F.col("b.label").alias("label_b"),
                    F.round("cos_raw", 6).alias("cosine")))


# ---------------------------------------------------------------------------
# op_label_centroid — per-class prototype embeddings (exact fixed-point)
# ---------------------------------------------------------------------------

@register(
    "op_label_centroid",
    oracle="""
    WITH q AS (
      SELECT label, i.i AS pos,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1048576.0)
                  AS BIGINT) AS v
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(v) AS BIGINT) AS sum_q20,
           CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_q20
    FROM q
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    tags=("llm", "vector"),
)
def op_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label prototype (mean) embedding — the classifier-centroid /
    nearest-class-mean building block. One output row per (label,
    dimension) carrying the exact 2^-20 fixed-point element sum and the
    floored mean.

    Determinism: elements quantize to BIGINT before summing (same
    contract as `op_ann_ivf`), so the sum is order-independent and the
    single final division is exact in double (|sum| < 2^53).

    Scale: posexplode fans each vector into 64 rows; the one shuffle
    keys on (label, pos) — at most 64 × |labels| perfectly uniform
    buckets with map-side partial sums. The alternative zero-explode
    formulation (``F.aggregate`` over a struct accumulator) keeps whole
    vectors per row but loses map-side combine; at 10^9 vectors the
    explode+partial-agg shape moves only 64 ints per (label, pos) per
    task and wins.
    """
    e = T(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "label",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)")
         .alias("v"))
    return (q.groupBy("label", "pos")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.sum("v").cast("long").alias("sum_q20"),
                 F.expr("CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))"
                        " AS BIGINT)").alias("mean_q20"))
            .orderBy("label", "pos"))


# ---------------------------------------------------------------------------
# op_image_ahash — perceptual (average-hash) near-dup over binary media
# ---------------------------------------------------------------------------

def _duck_px(i: int) -> str:
    return f"ascii(substr(md5(text), {i + 1}, 1))"


_AHASH_TOTAL = " + ".join(_duck_px(i) for i in range(32))
_AHASH_BITS = " + ".join(
    f"(CASE WHEN 32 * {_duck_px(i)} > tot"
    f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for i in range(32))


def _decode_ahash(batches):
    """mapInPandas "image decoder" → 32-cell gray thumbnail → average
    hash. The thumbnail is the deterministic stub (ascii codes of the
    payload's md5 hex — `real_media_decode` gates the pillow path, which
    would produce the 8×8 luma grid instead); the average-hash math —
    bit i set iff cell i is above the thumbnail mean, compared as
    32·p > Σp so no division ever happens — and the Arrow batch shape
    are the real thing."""
    import hashlib

    import numpy as np

    for pdf in batches:
        n = len(pdf)
        if not n:
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "ahash": pd.Series([], dtype="int64")})
            continue
        hexes = "".join(hashlib.md5(p).hexdigest() for p in pdf["payload"])
        px = np.frombuffer(hexes.encode("ascii"),
                           np.uint8).reshape(n, 32).astype(np.int64)
        tot = px.sum(axis=1, keepdims=True)
        bits = (32 * px > tot).astype(np.int64)
        ahash = (bits << np.arange(32, dtype=np.int64)).sum(axis=1)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "ahash": ahash})


#: Bound on the candidate-pair report (most-similar first). The full
#: candidate list is O(n²/buckets) on a near-dup-free corpus — at sf3
#: (150k docs) ~175M rows, which no driver pull (or oracle compare)
#: should ever materialize; the unbounded report was itself the
#: anti-scale pattern the repo bans elsewhere (r14, closing the sf3
#: skip). Ordered by (hamming, doc_a, doc_b) the bound NEVER drops a
#: real near-dup until there are >50k pairs at Hamming ≤ 3 — at which
#: point the corpus needs `dedup_clusters`, not a pair listing.
_AHASH_TOP_PAIRS = 50_000


@register(
    "op_image_ahash",
    # bands is referenced twice (self-join) and h feeds it — both
    # MATERIALIZED so DuckDB hashes each document once, not once per
    # reference (the triangle/kcore CTE re-inlining lesson).
    oracle=f"""
    WITH t AS (SELECT doc_id, ({_AHASH_TOTAL}) AS tot, text
               FROM documents WHERE text IS NOT NULL),
    h AS MATERIALIZED (
        SELECT doc_id, CAST({_AHASH_BITS} AS BIGINT) AS ahash FROM t),
    bands AS MATERIALIZED (
        SELECT doc_id, ahash, b.b AS band_idx,
               CAST((ahash >> (8 * b.b)) & 255 AS BIGINT) AS band_val
        FROM h, (SELECT unnest(range(0, 4)) AS b) b),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                     a.ahash AS ha, c.ahash AS hb
              FROM bands a JOIN bands c
                ON a.band_idx = c.band_idx AND a.band_val = c.band_val
               AND a.doc_id < c.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
           bit_count(xor(ha, hb)) <= 3 AS is_dup
    FROM pairs
    ORDER BY bit_count(xor(ha, hb)), doc_a, doc_b
    LIMIT {_AHASH_TOP_PAIRS}
    """,
    tags=("llm", "multimodal", "dedup"),
)
def op_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup via perceptual average-hash: binary media
    payloads decode (Arrow-batched mapInPandas) to a small gray
    thumbnail, hash to 32 bits (bit = cell above thumbnail mean —
    integer-compared, so the hash is bit-deterministic), then
    candidate pairs come from 8-bit band blocking, each verified with
    its exact Hamming distance and an ``is_dup`` verdict at ≤ 3. The
    report is the ``_AHASH_TOP_PAIRS`` MOST-SIMILAR candidates
    (ordered by hamming, then ids): the fixture corpus has zero
    near-dup images, so a dup-filtered output would be vacuously empty
    — the verdict column keeps the verify stage observable — while an
    UNBOUNDED candidate list grows O(n²/buckets) on exactly such
    corpora (~175M rows at sf3) and is the anti-scale driver pull the
    repo bans elsewhere (r14). By the pigeonhole principle a ≤3-bit
    difference must leave one of the 4 bands untouched — band blocking
    is LOSSLESS for the threshold, the same guarantee `dedup_simhash`
    documents, and the (hamming, ids) order means no true near-dup is
    ever displaced from the report by random collisions. Payloads are the documents' bytes so the DuckDB oracle
    can recompute the identical hash from md5(text); with pillow
    installed (`real_media_decode` gate) the thumbnail becomes the
    real 8×8 luma grid and everything downstream is unchanged.

    Scale: decode is embarrassingly parallel (no shuffle); the band
    self-join shuffles 4 rows × 8 bytes per image on uniform band
    keys — bucket occupancy is |corpus| / 256 per band, and widening
    bands (16-bit → 65k buckets) holds occupancy at any corpus size;
    verification touches candidates only. In production the
    fingerprint table is materialized once (sink_parquet) before
    blocking — here the lazy plan decodes each join side, which is
    idempotent and still linear.
    """
    # NULL payloads carry no image: no fingerprint, no blocking —
    # filtered BEFORE the decode hop on both engines (the oracle's
    # WHERE twin); the alternative (hashing them to 0) would flood one
    # band bucket with every broken asset (r12 null-seed fuzz, where
    # md5(None) also crashed the worker)
    d = (T(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    h = d.mapInPandas(_decode_ahash, "doc_id long, ahash long")
    bands = (h.select("doc_id", "ahash",
                      F.explode(F.expr("sequence(0, 3)")).alias("band_idx"))
              .withColumn("band_val",
                          F.expr("CAST(shiftright(ahash, 8 * band_idx)"
                                 " & 255 AS BIGINT)")))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.ahash").alias("ha"),
                     F.col("b.ahash").alias("hb"))
             .distinct()
             .withColumn("hamming",
                         F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
             .withColumn("is_dup", F.col("hamming") <= 3)
             .select("doc_a", "doc_b", "hamming", "is_dup")
             # orderBy+limit → TakeOrderedAndProject: per-partition
             # top-k, no global sort, bounded driver transfer
             .orderBy("hamming", "doc_a", "doc_b")
             .limit(_AHASH_TOP_PAIRS))


# ---------------------------------------------------------------------------
# op_hard_negatives — contrastive hard-negative mining within LSH buckets
# ---------------------------------------------------------------------------

#: Fallback-pick hashes (Knuth multiplicative mod prime — identical
#: BIGINT math on both engines; inputs nonnegative so plain % works).
#: The key reduces mod 1000003 BEFORE the multiply so the product
#: stays under 2^63 for ANY id — multiply-first wraps silently in
#: Spark (ANSI off) and raises in DuckDB past ids ~3.5e9; the r6
#: review caught the class, fixed at every Knuth-hash site.
_HN_H1 = "((({v} % 1000003) * 2654435761) % 1000003)"  # other-label offset
_HN_H2 = "(((({v} % 1000003) * 97 + 13) * 2654435761) % 999983)"  # pick in pool


@register(
    "op_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding, {_DUCK_NORM} AS nrm,
                      CAST({_duck_bucket('embedding')} AS BIGINT) AS bucket
               FROM embeddings),
    cand AS (SELECT a.vec_id, a.label,
                    b.vec_id AS hard_neg_id, b.label AS neg_label,
                    {_duck_dot('a.embedding', 'b.embedding')}
                      / (a.nrm * b.nrm) AS cos_raw
             FROM e a JOIN e b
               ON a.bucket = b.bucket AND a.label <> b.label),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY cos_raw DESC, hard_neg_id) AS rn
               FROM cand),
    winners AS (SELECT vec_id, label, hard_neg_id, neg_label, cos_raw
                FROM ranked WHERE rn = 1),
    lab AS (SELECT label, row_number() OVER (ORDER BY label) AS lr,
                   count(*) AS cnt
            FROM e GROUP BY label),
    nl AS (SELECT count(*) AS n FROM lab),
    pool AS (SELECT vec_id, label, embedding, nrm,
                    row_number() OVER (PARTITION BY label
                                       ORDER BY vec_id) AS pos
             FROM e),
    miss AS (SELECT e.vec_id, e.label, l.lr
             FROM e JOIN lab l ON e.label = l.label
             WHERE NOT EXISTS (SELECT 1 FROM winners w
                               WHERE w.vec_id = e.vec_id)),
    pick AS (SELECT m.vec_id, m.label,
                    ((m.lr + {_HN_H1.format(v='m.vec_id')}
                      % greatest(nl.n - 1, 1)) % nl.n) + 1 AS neg_lr
             FROM miss m, nl WHERE nl.n > 1),
    fb AS (SELECT p.vec_id, p.label, pool.vec_id AS hard_neg_id,
                  l2.label AS neg_label,
                  {_duck_dot('me.embedding', 'pool.embedding')}
                    / (me.nrm * pool.nrm) AS cos_raw
           FROM pick p
           JOIN lab l2 ON l2.lr = p.neg_lr
           JOIN pool ON pool.label = l2.label
                AND pool.pos = {_HN_H2.format(v='p.vec_id')} % l2.cnt + 1
           JOIN e me ON me.vec_id = p.vec_id)
    SELECT vec_id, label, hard_neg_id, neg_label,
           round(cos_raw, 6) AS cosine, is_fallback
    FROM (SELECT *, FALSE AS is_fallback FROM winners
          UNION ALL
          SELECT *, TRUE AS is_fallback FROM fb)
    ORDER BY vec_id
    """,
    tags=("llm", "vector"),
)
def op_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each vector, the most
    similar vector with a DIFFERENT label — the pair a contrastive /
    metric-learning trainer most needs and random negative sampling
    almost never finds. Candidates are restricted to the vector's
    hyperplane-sign LSH bucket (exactly where the embedding-confusable
    negatives live — a high-cosine pair almost surely shares its sign
    pattern, the `dedup_embedding_lsh` recall argument), so mining is
    bucket-local, never all-pairs.

    Vectors whose bucket holds no other-label neighbor do NOT vanish
    (they did in r5 — prose-only fallback): each surfaces with a
    deterministic hash-picked RANDOM negative, flagged
    ``is_fallback=true``. The pick is two Knuth-multiplicative hashes
    of the vector id — one selects a different label (cyclic offset
    over the label ranks), one selects position inside that label's
    vec_id-ordered pool — so the output is total over the corpus,
    reproducible on any engine, and never self-label.

    Precondition: totality requires ≥2 distinct labels. On a
    single-label corpus there IS no valid negative (every candidate
    would be self-label), so the fallback filter (`n_labels > 1` here,
    `WHERE nl.n > 1` in the oracle) intentionally emits nothing for
    unmined vectors on both engines — "total" means total over corpora
    where the mining problem is well-posed.

    Determinism: dot products fold dimension-sequentially (identical
    on both engines), argmax breaks cosine ties on neighbor id; the
    fallback path is pure integer hashing.

    Scale: bucket equi-self-join on uniform sign-pattern keys; widen
    `_N_PLANES` with corpus size to hold bucket occupancy (the
    standard discipline here); the per-vector argmax is a window over
    bucket-local candidates only. The fallback path joins the missing
    residue (tiny by construction — a vector with NO bucket cohabitant
    of another label) against a broadcast 10-row label table and the
    per-label rank pool on (label, pos) — one extra narrow shuffle of
    the residue, nothing corpus×corpus."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "label", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm"),
                 F.expr(_spark_bucket("embedding")).cast("long")
                  .alias("bucket")))
    a, b = e.alias("a"), e.alias("b")
    cand = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.label") != F.col("b.label")))
             .select(F.col("a.vec_id").alias("vec_id"),
                     F.col("a.label").alias("label"),
                     F.col("b.vec_id").alias("hard_neg_id"),
                     F.col("b.label").alias("neg_label"),
                     (F.expr(_spark_dot("a.embedding", "b.embedding"))
                      / (F.col("a.nrm") * F.col("b.nrm")))
                     .alias("cos_raw")))
    from pyspark.sql.window import Window as W
    w = W.partitionBy("vec_id").orderBy(F.col("cos_raw").desc(),
                                        "hard_neg_id")
    winners = (cand.withColumn("rn", F.row_number().over(w))
                   .filter(F.col("rn") == 1)
                   .drop("rn"))

    # Fallback residue: vectors with no other-label bucket neighbor.
    # The label table is collected ONCE driver-side (|labels| rows —
    # metadata-sized, same annotated-scalar family as the IVF model
    # bounds) and re-enters the plan as local data, so the corpus is
    # aggregated to labels exactly once per invocation instead of
    # three times (lab.count job + two broadcast-join subplans).
    lab_rows = (e.groupBy("label")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .orderBy("label").collect())   # driver-ok: label vocab
    lab = spark.createDataFrame(
        [(r["label"], r["cnt"], i + 1) for i, r in enumerate(lab_rows)],
        "label long, cnt long, lr int")
    n_labels = F.lit(len(lab_rows))
    pool = e.withColumn("pos", F.row_number().over(
        W.partitionBy("label").orderBy("vec_id")))
    miss = (e.join(winners.select("vec_id"), "vec_id", "left_anti")
             .join(F.broadcast(lab.select("label", "lr")), "label"))
    pick = (miss.filter(n_labels > 1)
                .withColumn("neg_lr",
                            (F.col("lr")
                             + F.expr(_HN_H1.format(v="vec_id"))
                             % F.greatest(n_labels - 1, F.lit(1)))
                            % n_labels + 1))
    l2 = F.broadcast(lab.select(F.col("label").alias("neg_label"),
                                F.col("lr").alias("neg_lr"),
                                F.col("cnt").alias("neg_cnt")))
    fb = (pick.join(l2, "neg_lr")
              .withColumn("pos", F.expr(_HN_H2.format(v="vec_id"))
                          % F.col("neg_cnt") + 1)
              .join(pool.select(F.col("label").alias("neg_label"),
                                "pos",
                                F.col("vec_id").alias("hard_neg_id"),
                                F.col("embedding").alias("ne"),
                                F.col("nrm").alias("nn")),
                    ["neg_label", "pos"])
              .select("vec_id", "label", "hard_neg_id", "neg_label",
                      (F.expr(_spark_dot("embedding", "ne"))
                       / (F.col("nrm") * F.col("nn"))).alias("cos_raw")))
    return (winners.withColumn("is_fallback", F.lit(False))
            .unionByName(fb.withColumn("is_fallback", F.lit(True)))
            .select("vec_id", "label", "hard_neg_id", "neg_label",
                    F.round("cos_raw", 6).alias("cosine"), "is_fallback")
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# udf_cogroup_reconcile — two-sided grouped Python (cogrouped applyInPandas)
# ---------------------------------------------------------------------------

#: Fixed integer credit multiplier: sizes per-user event-credit wallets
#: to ~half the per-customer order book on the synthetic fixture, so the
#: greedy replay funds a PARTIAL prefix (both branches of the
#: conditional-consume fold exercise at every SF).
_RECONCILE_CREDIT_MULT = 400
#: Shard count for the cogroup: FEW, LARGE groups by construction — the
#: Arrow per-group dispatch (~7 ms measured in r5) is paid 8 times, not
#: once per customer. Contract at real volume: scale shards WITH
#: cluster cores (≈ defaultParallelism, as below) so every core holds
#: one shard, but never so many that groups stop being large — each
#: shard must still batch thousands of customers per Arrow frame, or
#: the per-group dispatch cost comes back. 8 is the deterministic
#: local[32]-fixture demo constant; `_reconcile_shards(spark)` is the
#: cluster-sized form used by the registered key.
_RECONCILE_SHARDS = 8


def _reconcile_shards(spark: SparkSession) -> int:
    """Cores-scaled shard count, floored at the demo constant: one
    cogroup shard per scheduler slot keeps every core busy while the
    pmod keyspace stays tiny relative to |customers| (groups stay
    LARGE). Deterministic for a fixed cluster size — the shard key
    never appears in the output, so the result set is shard-count
    invariant (pinned by the oracle hash-match at any parallelism)."""
    return max(_RECONCILE_SHARDS,
               spark.sparkContext.defaultParallelism)


def _reconcile(key, orders_pdf, events_pdf):
    """Greedy wallet-funding replay over one shard: both relations for
    the shard's customers arrive TOGETHER as two Arrow frames. Per
    customer, events fund an integer credit wallet; orders are walked
    in (orderdate, orderkey) order and each is FUNDED — consuming its
    price — only if the remaining wallet covers it, otherwise skipped
    with the wallet untouched. The consume-or-skip decision depends on
    every prior decision, so the fold is genuinely sequential: no
    window/prefix-sum or join expresses it (the DuckDB oracle needs a
    depth-max(n_orders) recursive CTE; this kernel is one linear pass).
    All arithmetic is BIGINT — cents are pre-rounded engine-side."""
    wallets: dict = {}
    if len(events_pdf):
        for ck, credit in zip(events_pdf["custkey"].to_numpy(),
                              events_pdf["credit_cents"].to_numpy()):
            wallets[int(ck)] = wallets.get(int(ck), 0) + int(credit)
    out: dict = {int(ck): [0, 0, wallets.get(int(ck), 0)]
                 for ck in wallets}
    if len(orders_pdf):
        o = orders_pdf.sort_values(["custkey", "date_int", "o_orderkey"])
        for ck, price in zip(o["custkey"].to_numpy(),
                             o["price_cents"].to_numpy()):
            ck, price = int(ck), int(price)
            st = out.setdefault(ck, [0, 0, wallets.get(ck, 0)])
            st[0] += 1                    # n_orders
            if price <= st[2]:            # funded: consume
                st[1] += 1
                st[2] -= price
    return pd.DataFrame(
        [(ck, st[0], st[1], st[2]) for ck, st in sorted(out.items())],
        columns=["custkey", "n_orders", "n_funded", "residual_cents"])


@register(
    "udf_cogroup_reconcile",
    oracle=f"""
    WITH RECURSIVE
    o AS (SELECT o_custkey AS custkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY CAST(o_orderdate AS DATE),
                                             o_orderkey) AS rn
          FROM orders WHERE o_custkey < 150),
    n_o AS (SELECT custkey, count(*) AS n FROM o GROUP BY custkey),
    w AS (SELECT user_id AS custkey,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   * {_RECONCILE_CREDIT_MULT} AS wallet
          FROM events WHERE user_id < 150 GROUP BY user_id),
    base AS (SELECT coalesce(n_o.custkey, w.custkey) AS custkey,
                    coalesce(n_o.n, 0) AS n,
                    coalesce(w.wallet, 0) AS wallet
             FROM n_o FULL JOIN w ON n_o.custkey = w.custkey),
    rec AS (
      SELECT custkey, n, 0 AS rn, wallet AS bal, CAST(0 AS BIGINT) AS funded
      FROM base
      UNION ALL
      SELECT r.custkey, r.n, r.rn + 1,
             CASE WHEN o.price <= r.bal THEN r.bal - o.price ELSE r.bal END,
             r.funded + CASE WHEN o.price <= r.bal THEN 1 ELSE 0 END
      FROM rec r JOIN o ON o.custkey = r.custkey AND o.rn = r.rn + 1)
    SELECT custkey, CAST(n AS BIGINT) AS n_orders,
           CAST(funded AS BIGINT) AS n_funded,
           CAST(bal AS BIGINT) AS residual_cents
    FROM rec WHERE rn = n
    ORDER BY custkey
    """,
    tags=("llm", "udf"),
)
def udf_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped Python via ``cogroup().applyInPandas`` — the
    last grouped-UDF API surface (`udaf_grouped` covers one-sided) —
    on a kernel that EARNS the API: a greedy wallet-funding replay.
    Per customer, event credits fund a wallet; orders arrive in
    (orderdate, orderkey) sequence and each is funded — consuming its
    price from the wallet — only if the remainder covers it, else it
    is skipped leaving the wallet untouched. Because a skipped order
    consumes nothing, every decision depends on the full history of
    prior decisions: the fold is NOT a window/prefix-sum and no join
    expresses it. The DuckDB twin must simulate it with a recursive
    CTE that advances every customer one order per iteration (depth =
    max orders/customer); the cogroup kernel is a single linear pass.

    Scale: ONE co-partitioned shuffle on a FIXED shard key
    (``pmod(custkey, shards)`` with shards = max(8, cores) via
    `_reconcile_shards`) for both inputs — few/large groups by
    construction, so the ~7 ms-per-group two-sided Arrow dispatch tax
    (measured in r5 against ~15k per-customer groups: 31 s) is paid
    once per scheduler slot, not 15k times; the shard key never
    reaches the output, so results are shard-count invariant. Within a shard the replay is linear in rows and
    per-customer state is two BIGINTs. Cents are rounded ENGINE-side
    (`round(x*100)` in both SQL dialects, proven identical) so the
    Python kernel only ever does integer arithmetic — no float
    rounding drift can enter the replay."""
    shards = _reconcile_shards(spark)
    o = (T(spark, sf_dir, "orders")
         .filter(F.col("o_custkey") < 150)
         .select(F.col("o_custkey").alias("custkey"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                  .alias("price_cents"),
                 F.expr("CAST(unix_date(CAST(o_orderdate AS DATE))"
                        " AS BIGINT)").alias("date_int"),
                 "o_orderkey",
                 F.pmod("o_custkey", F.lit(shards)).alias("grp")))
    e = (T(spark, sf_dir, "events")
         .filter(F.col("user_id") < 150)
         .select(F.col("user_id").alias("custkey"),
                 # coalesce, not filter: a NULL-value credit funds 0
                 # (the oracle's sum() skips it) but the customer's
                 # wallet row must still EXIST — filtering the row
                 # would drop an only-null-credit customer from the
                 # output where the oracle's FULL JOIN keeps them
                 # (and int(NaN) crashed the kernel — r12 null-seed)
                 (F.coalesce(F.expr("CAST(round(value * 100) AS BIGINT)"),
                             F.lit(0))
                  * _RECONCILE_CREDIT_MULT).alias("credit_cents"),
                 F.pmod("user_id", F.lit(shards)).alias("grp")))
    out = (o.groupBy("grp").cogroup(e.groupBy("grp"))
            .applyInPandas(
                _reconcile,
                "custkey long, n_orders long, n_funded long,"
                " residual_cents long"))
    return out.orderBy("custkey")


# ---------------------------------------------------------------------------
# op_knn_classify — k-nearest-neighbor label prediction
# ---------------------------------------------------------------------------

_KNN_K = 5

_KNN_TAIL = """
    ranked AS (SELECT query_id, label,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_raw DESC, neighbor_id)
                        AS rn
               FROM scored),
    votes AS (SELECT query_id, label, count(*) AS n_votes
              FROM ranked WHERE rn <= {K}
              GROUP BY query_id, label),
    winner AS (SELECT query_id, label, n_votes,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY n_votes DESC, label)
                        AS wrn
               FROM votes)
    SELECT query_id, CAST(label AS BIGINT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM winner WHERE wrn = 1
    ORDER BY query_id
"""


@register(
    "op_knn_classify",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding, {_DUCK_NORM} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
          FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label, embedding, nrm
          FROM e WHERE vec_id >= 10),
    scored AS (SELECT query_id, neighbor_id, label,
                      {_duck_dot('qe', 'embedding')} / (qn * nrm)
                        AS cos_raw
               FROM q, c),
    {_KNN_TAIL.format(K=_KNN_K)}
    """,
    tags=("llm", "vector"),
)
def op_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: label the held-out query vectors by
    majority vote of their 5 nearest corpus neighbors (cosine), ties
    broken toward the smaller label — the lazy-learning baseline every
    embedding-quality evaluation starts from (probing "do my
    embeddings cluster by label?" without training anything).

    Determinism: the neighbor ranking orders on bit-stable cosines
    with a neighbor-id tie-break; the vote orders on (count, label) —
    total orders everywhere.

    Scale: the query set broadcasts (same discipline as
    `op_similarity`); scoring is one pass over the corpus with a
    per-query top-k window on the query key — |queries| × |corpus|
    never materializes beyond the streamed scan. For large query sets
    switch candidates to the LSH buckets (`op_similarity_lsh`) and
    vote over candidates — identical tail.
    """
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "label", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm")))
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qe"),
                  F.col("nrm").alias("qn")))
    c = (e.filter(F.col("vec_id") >= 10)
          .select(F.col("vec_id").alias("neighbor_id"), "label",
                  "embedding", "nrm"))
    scored = (c.crossJoin(F.broadcast(q))
               .select("query_id", "neighbor_id", "label",
                       (F.expr(_spark_dot("qe", "embedding"))
                        / (F.col("qn") * F.col("nrm"))).alias("cos_raw")))
    # Tail stays in the DataFrame API (no named temp view — the op must
    # be catalog-side-effect free so concurrent invocations in one
    # SparkSession cannot clobber each other; ADVICE r5). Same plan
    # shape as the SQL oracle tail: rank → vote → argmax.
    from pyspark.sql import Window as W
    rank_w = W.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id"))
    votes = (scored
             .withColumn("rn", F.row_number().over(rank_w))
             .filter(F.col("rn") <= _KNN_K)
             .groupBy("query_id", "label")
             .agg(F.count(F.lit(1)).alias("n_votes")))
    win_w = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label"))
    return (votes
            .withColumn("wrn", F.row_number().over(win_w))
            .filter(F.col("wrn") == 1)
            .select("query_id",
                    F.col("label").cast("bigint").alias("pred_label"),
                    F.col("n_votes").cast("bigint").alias("n_votes"))
            .orderBy("query_id"))


# ---------------------------------------------------------------------------
# op_ann_pq_encode / op_ann_pq_search — product quantization (integer-exact)
# ---------------------------------------------------------------------------

#: PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids each (codes
#: pack into 32 bits of one BIGINT). The codebook is the same literal-
#: formula trick as `op_ann_ivf`'s model: centroid value for (code c,
#: global dim i) = ((3c + 5i + 1) mod 7 − 3) / 4, held in q20 fixed
#: point so every distance is an exact BIGINT — argmin ties and ADC
#: ranks are bit-identical on any engine (floats never touch the
#: distance path).
_PQ_SUBS, _PQ_SUBDIM, _PQ_CENTS = 8, 8, 16
_PQ_Q = 1_048_576          # q20 one
_PQ_CQ = 262_144           # q20 quarter (codebook scale 1/4)


def _pq_cv(c: str, i: str) -> str:
    return f"((((3 * ({c}) + 5 * ({i}) + 1) % 7) - 3) * {_PQ_CQ})"


def _pq_code_spark(col: str) -> str:
    subs = []
    for s in range(_PQ_SUBS):
        base = s * _PQ_SUBDIM
        e = (f"(CAST(floor(CAST({col}[{base} + d] AS DOUBLE) * {_PQ_Q})"
             f" AS BIGINT) - {_pq_cv('c', f'{base} + d')})")
        dist = (f"aggregate(sequence(0, {_PQ_SUBDIM - 1}),"
                f" cast(0 as bigint), (acc, d) -> acc + {e} * {e})")
        code = (f"array_sort(transform(sequence(0, {_PQ_CENTS - 1}),"
                f" c -> struct({dist} AS d, c AS c)))[0].c")
        subs.append(f"CAST({code} AS BIGINT) * {1 << (4 * s)}")
    return " + ".join(subs)


def _pq_code_duck(col: str) -> str:
    subs = []
    for s in range(_PQ_SUBS):
        base = s * _PQ_SUBDIM
        e = (f"(CAST(floor(CAST({col}[{base} + d + 1] AS DOUBLE)"
             f" * {_PQ_Q}) AS BIGINT) - {_pq_cv('c', f'{base} + d')})")
        dist = f"list_sum([{e} * {e} for d in range(0, {_PQ_SUBDIM})])"
        code = (f"list_sort([{{'d': {dist}, 'c': c}}"
                f" for c in range(0, {_PQ_CENTS})])[1].c")
        subs.append(f"CAST({code} AS BIGINT) * {1 << (4 * s)}")
    return " + ".join(subs)


def _pq_adist_spark(qe: str, code: str) -> str:
    csub = f"(shiftright({code}, 4 * (i div {_PQ_SUBDIM})) % {_PQ_CENTS})"
    e = (f"(CAST(floor(CAST({qe}[i] AS DOUBLE) * {_PQ_Q}) AS BIGINT)"
         f" - {_pq_cv(csub, 'i')})")
    return (f"aggregate(sequence(0, {_DIM - 1}), cast(0 as bigint),"
            f" (acc, i) -> acc + {e} * {e})")


def _pq_adist_duck(qe: str, code: str) -> str:
    csub = f"(({code} >> (4 * (i // {_PQ_SUBDIM}))) & {_PQ_CENTS - 1})"
    e = (f"(CAST(floor(CAST({qe}[i + 1] AS DOUBLE) * {_PQ_Q}) AS BIGINT)"
         f" - {_pq_cv(csub, 'i')})")
    return f"list_sum([{e} * {e} for i in range(0, {_DIM})])"


#: Past this many queries the ADC search precomputes each query's 8×16
#: lookup table once instead of re-deriving centroid terms per
#: (query, code) pair — same exact BIGINT sums regrouped by subspace
#: (integer addition is associative, so results are bit-identical),
#: ~8× fewer ops on the |queries|×|codes| hot path.
_PQ_LUT_MIN_QUERIES = 4


def _pq_lut_spark(qe: str) -> str:
    """Per-query LUT: lut[s][c] = Σ_d (q_{s·8+d} − cv(c, s·8+d))² —
    8 subspaces × 16 centroids of exact q20 fixed-point BIGINTs."""
    i = f"s * {_PQ_SUBDIM} + d"
    e = (f"(CAST(floor(CAST({qe}[{i}] AS DOUBLE) * {_PQ_Q}) AS BIGINT)"
         f" - {_pq_cv('c', i)})")
    inner = (f"aggregate(sequence(0, {_PQ_SUBDIM - 1}),"
             f" cast(0 as bigint), (acc, d) -> acc + {e} * {e})")
    return (f"transform(sequence(0, {_PQ_SUBS - 1}),"
            f" s -> transform(sequence(0, {_PQ_CENTS - 1}),"
            f" c -> {inner}))")


def _pq_adist_lut_spark(lut: str, code: str) -> str:
    """ADC distance from a precomputed LUT: 8 array lookups + adds per
    (query, code) pair — the production hot path."""
    idx = (f"CAST(shiftright({code}, 4 * s) % {_PQ_CENTS} AS INT) + 1")
    return (f"aggregate(sequence(0, {_PQ_SUBS - 1}),"
            f" cast(0 as bigint),"
            f" (acc, s) -> acc + element_at(element_at({lut}, s + 1),"
            f" {idx}))")


@register(
    "op_ann_pq_encode",
    oracle=f"""
    SELECT vec_id, CAST({_pq_code_duck('embedding')} AS BIGINT) AS pq_code
    FROM embeddings ORDER BY vec_id
    """,
    tags=("llm", "vector"),
)
def op_ann_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: each 64-dim vector compresses to
    eight 4-bit centroid codes packed in one BIGINT (64 floats → 4
    bytes, the 64× compression that makes billion-scale ANN RAM-
    resident). Entirely Catalyst HOF expressions — no Python, no UDF;
    the argmin per subspace sorts 16 (distance, code) structs, and
    because inputs quantize to q20 fixed point first, distances are
    exact BIGINTs: argmin ties break identically everywhere.

    Codebook provenance: literal formula (the `op_ann_ivf` trick) —
    production swaps in k-means centroids as a literal/broadcast
    table; every expression shape stays the same.

    Scale: map-only over the corpus, one pass, whole-stage codegen;
    the encoded table is the thing you persist (4 bytes + id per
    vector) and scan for every subsequent query.
    """
    e = T(spark, sf_dir, "embeddings")
    return (e.select("vec_id",
                     F.expr(f"CAST({_pq_code_spark('embedding')} AS BIGINT)")
                      .alias("pq_code"))
             .orderBy("vec_id"))


@register(
    "op_ann_pq_search",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, CAST({_pq_code_duck('embedding')} AS BIGINT)
               AS pq_code
      FROM embeddings WHERE vec_id >= 10),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id < 10),
    scored AS (SELECT query_id, vec_id AS neighbor_id,
                      CAST({_pq_adist_duck('qe', 'pq_code')} AS BIGINT)
                        AS adist
               FROM q, codes),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
               FROM scored)
    SELECT query_id, neighbor_id, adist FROM ranked WHERE rn <= 10
    ORDER BY query_id, rn
    """,
    tags=("llm", "vector"),
)
def op_ann_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) search: queries stay full-
    precision, the corpus is only its 4-byte codes, and the distance
    is query-to-centroid per subspace — summed from the SAME integer
    codebook arithmetic as the encode, so ranks are exact and
    engine-identical. Top-10 per query by (distance, id).

    Completes the ANN family: brute force (`op_similarity`), LSH
    buckets (+multiprobe), IVF cells, and now PQ compression — the
    four standard tools, composable (IVF-PQ = route by cell, rank by
    ADC; rerank winners with `op_similarity` on the raw vectors).

    Scale: the corpus side scans CODES (4 bytes/vector — that's the
    entire point), queries broadcast, per-query top-k is a bounded
    window. Past `_PQ_LUT_MIN_QUERIES` the per-query 8×16 lookup table
    is precomputed ONCE on the (broadcast) query side and the hot path
    becomes 8 array lookups + adds per (query, code) pair instead of
    64 centroid derivations — the same exact BIGINT sums regrouped by
    subspace, so results are bit-identical (integer addition is
    associative) and the oracle is unchanged. Below the threshold the
    direct form skips the LUT build. The branch gate is a bounded
    ``take(_PQ_LUT_MIN_QUERIES)`` probe — a short-circuiting limit
    scan, not a full count job over the query set.
    """
    e = T(spark, sf_dir, "embeddings")
    codes = (e.filter(F.col("vec_id") >= 10)
              .select(F.col("vec_id").alias("neighbor_id"),
                      F.expr(f"CAST({_pq_code_spark('embedding')}"
                             " AS BIGINT)").alias("pq_code")))
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qe")))
    # Bounded gate probe: take(n) pushes a global limit into the scan
    # (CollectLimitExec short-circuits after n rows), so choosing the
    # LUT branch never costs a full count job over the query set.
    n_q = len(q.select("query_id")
              .take(_PQ_LUT_MIN_QUERIES))  # driver-ok: ≤ the literal-LUT cap rows
    if n_q >= _PQ_LUT_MIN_QUERIES:
        q = q.select("query_id",
                     F.expr(_pq_lut_spark("qe")).alias("lut"))
        adist = _pq_adist_lut_spark("lut", "pq_code")
    else:
        adist = _pq_adist_spark("qe", "pq_code")
    scored = (codes.crossJoin(F.broadcast(q))
              .select("query_id", "neighbor_id",
                      F.expr(f"CAST({adist} AS BIGINT)").alias("adist")))
    from pyspark.sql.window import Window as W
    w = W.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 10)
                  .select("query_id", "neighbor_id", "adist")
                  .orderBy("query_id", "rn"))


# ---------------------------------------------------------------------------
# op_ann_ivf_pq — the composed billion-scale layout: IVF routing + PQ ADC
# ---------------------------------------------------------------------------

def _ivf_pq_oracle() -> str:
    """DuckDB twin: the trained-IVF prefix (same unrolled Lloyd's CTEs),
    probe + cell-candidate join, then PQ-ADC ranking on the candidates
    (codes + asymmetric distances from the shared integer codebook)."""
    base = _ivf_oracle()
    prefix = base[:base.rindex("SELECT vec_id, cid AS cluster_id")]
    qdist = _DUCK_SQDIST.format(a="q.qv", b="c.cv")
    adist = _DUCK_SQDIST.format(a="s.v", b="c.cv")
    pq_adc = _pq_adist_duck("q.qe", "cd.pq_code")
    return prefix + f""", qs AS (
      SELECT s.vec_id AS query_id, s.v AS qv, e.embedding AS qe
      FROM scaled s JOIN embeddings e ON s.vec_id = e.vec_id
      ORDER BY s.vec_id LIMIT {_IVFS_NQ}
    ), probes AS (
      SELECT query_id, qe, cid FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {qdist}, c.cid) AS rn
        FROM qs q CROSS JOIN c{_IVF_ITERS} c) WHERE rn <= {_IVFS_NPROBE}
    ), assigned AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {adist}, c.cid) AS rn
        FROM scaled s CROSS JOIN c{_IVF_ITERS} c) WHERE rn = 1
    ), codes AS (
      SELECT a.vec_id, a.cid,
             CAST({_pq_code_duck('e.embedding')} AS BIGINT) AS pq_code
      FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adist
    FROM (
      SELECT q.query_id, cd.vec_id,
             CAST({pq_adc} AS BIGINT) AS adist,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY CAST({pq_adc} AS BIGINT),
                                         cd.vec_id) AS rank
      FROM probes q JOIN codes cd ON cd.cid = q.cid)
    WHERE rank <= {_IVFS_TOPK}
    ORDER BY query_id, rank
    """


@register("op_ann_ivf_pq", oracle=_ivf_pq_oracle(),
          tags=("llm", "similarity", "iterative"))
def op_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed index layout every billion-scale ANN
    system actually ships (FAISS `IVFx,PQy`): IVF cells ROUTE (each
    query probes its nprobe nearest trained cells, so only
    nprobe/k of the corpus is touched) and PQ codes RANK (candidates
    are scored by asymmetric distance against 4-bit codes — the
    corpus side of the scoring reads ONE BIGINT per vector, 64×
    smaller than the raw floats). The two halves are exactly
    `op_ann_ivf_search`'s router and `op_ann_pq_search`'s scorer
    composed; production reranks the top-k on raw vectors
    (`op_similarity`'s kernel) as the final refinement stage.

    Determinism: routing distances ride the 2^-20 fixed-point BIGINT
    contract of the IVF build; ADC distances ride PQ's q20 integer
    codebook; ties break (distance, id) everywhere — no float ever
    enters an ordering.

    Scale: the corpus never shuffles for assignment or encoding (both
    are HOF projections over the scan); the candidate join is one cid
    equi-join of the probed cells against the code table (cell-
    partitioned parquet turns it into partition pruning); the
    per-query ADC scan uses the precomputed 8×16 lookup table
    (`_pq_lut_spark`, the measured-16× round-6 rewrite) on the
    broadcast query side. State per query: 128 BIGINTs of LUT;
    state per corpus vector: one BIGINT code + one cell id."""
    e, cents = _ivf_model(spark, sf_dir)
    raw = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    carr = _ivf_literal(cents)
    qdists = f"transform({carr}, c -> {_SPARK_SQDIST.format(a='v', b='c')})"
    queries = (e.orderBy("vec_id").limit(_IVFS_NQ)
               .join(raw, "vec_id")
               .select(F.col("vec_id").alias("query_id"),
                       F.expr(qdists).alias("qdists"),
                       F.expr(_pq_lut_spark("embedding")).alias("lut")))
    probes = (queries
              .select("query_id", "lut", F.explode(F.expr(
                  f"slice(array_sort(transform("
                  f" sequence(0L, CAST(size(qdists) - 1 AS BIGINT),"
                  f" 1L),"
                  f" i -> struct(element_at(qdists, CAST(i + 1 AS INT))"
                  f" AS d, i AS cid))), 1, {_IVFS_NPROBE})")).alias("p"))
              .select("query_id", "lut", F.col("p.cid").alias("cid")))
    codes = (_ivf_assign(e, cents).select("vec_id", "cid")
             .join(raw, "vec_id")
             .select("vec_id", "cid",
                     F.expr(f"CAST({_pq_code_spark('embedding')}"
                            " AS BIGINT)").alias("pq_code")))
    cand = probes.join(codes, "cid")
    scored = cand.select(
        "query_id", "vec_id",
        F.expr(f"CAST({_pq_adist_lut_spark('lut', 'pq_code')}"
               " AS BIGINT)").alias("adist"))
    w = W.partitionBy("query_id").orderBy("adist", "vec_id")
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= _IVFS_TOPK)
            .select("query_id", "rank", "vec_id", "adist")
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# op_label_noise — neighborhood-disagreement mislabel detection
# ---------------------------------------------------------------------------

_LN_K = 5
_LN_SUSPECT_PPM = 400_000     # agreement < 2/5 → suspect


@register(
    "op_label_noise",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding, {_DUCK_NORM} AS nrm,
                      CAST({_duck_bucket('embedding')} AS BIGINT) AS bucket
               FROM embeddings),
    cand AS (SELECT a.vec_id, a.label,
                    b.label AS nb_label, b.vec_id AS nb_id,
                    {_duck_dot('a.embedding', 'b.embedding')}
                      / (a.nrm * b.nrm) AS cos_raw
             FROM e a JOIN e b
               ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY cos_raw DESC, nb_id) AS rn
               FROM cand)
    SELECT vec_id, label,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           CAST(sum(CASE WHEN nb_label = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(floor(1000000.0
                      * sum(CASE WHEN nb_label = label THEN 1 ELSE 0 END)
                      / count(*)) AS BIGINT) AS agreement_ppm,
           CAST(floor(1000000.0
                      * sum(CASE WHEN nb_label = label THEN 1 ELSE 0 END)
                      / count(*)) AS BIGINT) < {_LN_SUSPECT_PPM}
             AS suspect
    FROM ranked WHERE rn <= {_LN_K}
    GROUP BY vec_id, label
    ORDER BY vec_id
    """,
    tags=("llm", "vector"),
)
def op_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by neighborhood disagreement (the
    confident-learning heuristic a training-data QA pass runs before
    anything trains): a vector whose nearest same-bucket neighbors
    mostly carry OTHER labels is a mislabel candidate. Per vector:
    its top-{_LN_K} bucket-local neighbors by cosine, the count that
    agree with its label, and the agreement ratio in floor-ppm;
    `suspect` flags agreement below 2/5. Vectors alone in their
    bucket have no evidence either way and are absent by design
    (`op_hard_negatives`' fallback discipline does not apply — a
    random neighbor carries no label signal).

    Determinism: same dimension-sequential dot folds and (cosine, id)
    tie-breaks as the rest of the vector family; the agreement ratio
    is exact integers with one floored division.

    Scale: the SAME bucket-local equi-self-join as hard-negative
    mining (never all-pairs; widen `_N_PLANES` with corpus size), a
    per-vector top-k window over bucket-local candidates, then a
    per-vector count — no new shuffle shapes."""
    e = (T(spark, sf_dir, "embeddings")
         .select("vec_id", "label", "embedding",
                 F.expr(_SPARK_NORM).alias("nrm"),
                 F.expr(_spark_bucket("embedding")).cast("long")
                  .alias("bucket")))
    a, b = e.alias("a"), e.alias("b")
    cand = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") != F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("vec_id"),
                     F.col("a.label").alias("label"),
                     F.col("b.label").alias("nb_label"),
                     F.col("b.vec_id").alias("nb_id"),
                     (F.expr(_spark_dot("a.embedding", "b.embedding"))
                      / (F.col("a.nrm") * F.col("b.nrm")))
                     .alias("cos_raw")))
    w = W.partitionBy("vec_id").orderBy(F.col("cos_raw").desc(), "nb_id")
    top = (cand.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= _LN_K))
    agree = F.sum(F.when(F.col("nb_label") == F.col("label"), 1)
                  .otherwise(0)).cast("bigint")
    out = (top.groupBy("vec_id", "label")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
                   agree.alias("n_agree"))
              .withColumn("agreement_ppm",
                          F.floor(1_000_000.0 * F.col("n_agree")
                                  / F.col("n_neighbors")).cast("bigint"))
              .withColumn("suspect",
                          F.col("agreement_ppm") < _LN_SUSPECT_PPM))
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# op_embedding_gram — exact scaled-integer Gram matrix (PCA/whitening input)
# ---------------------------------------------------------------------------

_GRAM_SCALE = 1024  # 2^10: float32 -> exact scaled BIGINT

_GRAM_DUCK_SQL = f"""
    WITH e AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * {_GRAM_SCALE}) AS BIGINT) AS q
      FROM embeddings),
    cell AS (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(a.q AS DECIMAL(18, 0)) * b.q) AS BIGINT) AS g
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2)
    SELECT i, j, g FROM cell ORDER BY i, j
"""


@register("op_embedding_gram", oracle=_GRAM_DUCK_SQL,
          tags=("llm", "vector"))
def op_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix of the (quantized) embedding corpus — the
    upper triangle of Σ q·qᵀ with q = floor(x·2^10) per dimension:
    the d×d sufficient statistic PCA / whitening / covariance-shift
    detection all start from, computed in ONE corpus pass.

    Determinism: ×2^10 on a float32-widened-to-double is exact (power
    of two), floor is exact, and everything after is BIGINT — so the
    two engines' wildly different execution orders (numpy matmul per
    partition vs a per-element self-join) MUST agree bit-for-bit;
    headroom is q ≤ ~2^11 ⇒ per-pair ≤ 2^22, overflow needs > 2^41
    vectors.

    Scale: this is the repo's clearest reduce-first shape — the oracle
    pays an O(n·d²) row explosion (unnest self-join), while the engine
    never materializes per-element rows at all: one Arrow
    `mapInPandas` pass accumulates a d×d int64 matrix PER PARTITION
    (numpy `qᵀ@q`, vectorized across the whole partition's batches)
    and emits only the d(d+1)/2 upper-triangle cells, so the shuffle
    carries |partitions|·2080 rows regardless of corpus size; the
    final (i, j) aggregate is metadata-sized. Growing d squares the
    emitted cells but never re-shapes the plan."""
    import numpy as np

    dfe = T(spark, sf_dir, "embeddings").select("embedding")

    def _partial_gram(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(mat * _GRAM_SCALE).astype(np.int64)
            g = q.T @ q
            acc = g if acc is None else acc + g
        if acc is not None:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame({"i": (iu + 1).astype("int64"),
                                "j": (ju + 1).astype("int64"),
                                "g": acc[iu, ju]})

    cells = dfe.mapInPandas(_partial_gram, "i long, j long, g long")
    # r10 overflow audit: per-PARTITION int64 accumulation is safe
    # (q ≤ 2^10 ⇒ q² ≤ 2^20; even 1e12 rows in one partition stays
    # under 2^63), but the cross-partition MERGE is where a BIGINT
    # sum wraps on Spark while DuckDB promotes — merge as
    # DECIMAL(38,0), exactly like the oracle's fixed sum.
    return (cells.groupBy("i", "j")
            .agg(F.sum(F.col("g").cast("decimal(38,0)"))
                 .cast("bigint").alias("g"))
            .orderBy("i", "j"))


# ---------------------------------------------------------------------------
# op_vector_norm_audit — embedding QA before ANN indexing
# ---------------------------------------------------------------------------

_NORM_Q_SPARK = (f"aggregate(transform(embedding, x ->"
                 f" CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE})"
                 f" AS BIGINT)), 0L, (a, x) -> a + x * x)")
#: NB: DuckDB `** 2` is DOUBLE-valued pow even on BIGINT operands
#: (confirmed: typeof(x ** 2) = DOUBLE), which silently breaks the
#: exact-integer contract past 2^53 — square by self-multiplication.
#: coalesce guards the empty-list edge: Spark's aggregate(..., 0L, ...)
#: yields the 0 seed for a zero-length array, but DuckDB's list_sum
#: over an empty list yields NULL — without the wrap, an empty
#: embedding would bin as a NULL row on the oracle side only.
_NORM_Q_DUCK = (f"coalesce(list_sum(list_transform("
                f"list_transform(embedding, x ->"
                f" CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE})"
                f" AS BIGINT)), v -> v * v)), 0)")

_NORM_AUDIT_DUCK_SQL = f"""
    WITH q AS (
      SELECT vec_id, CAST({_NORM_Q_DUCK} AS BIGINT) AS norm2_q
      FROM embeddings),
    b AS (
      SELECT CASE WHEN norm2_q <= 0 THEN 0
                  ELSE CAST(length(format('{{:b}}', norm2_q)) - 1
                            AS BIGINT) END AS bin,
             norm2_q
      FROM q)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_vectors,
           min(norm2_q) AS min_norm2_q, max(norm2_q) AS max_norm2_q,
           CAST(sum(CASE WHEN norm2_q = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero
    FROM b GROUP BY bin ORDER BY bin
"""

_NORM_AUDIT_SPARK_SQL = f"""
    WITH q AS (
      SELECT vec_id, CAST({_NORM_Q_SPARK} AS BIGINT) AS norm2_q
      FROM embeddings),
    b AS (
      SELECT CASE WHEN norm2_q <= 0 THEN 0
                  ELSE CAST(length(bin(norm2_q)) - 1 AS BIGINT) END
               AS bin,
             norm2_q
      FROM q)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_vectors,
           min(norm2_q) AS min_norm2_q, max(norm2_q) AS max_norm2_q,
           CAST(sum(CASE WHEN norm2_q = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero
    FROM b GROUP BY bin ORDER BY bin
"""


@register("op_vector_norm_audit", oracle=_NORM_AUDIT_DUCK_SQL,
          tags=("llm", "vector"))
def op_vector_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm audit: the distribution of exact scaled-integer
    squared L2 norms (q = floor(x·2^10) per dimension, norm²q = Σ q²)
    in power-of-two bins, with degenerate zero-vector counts — the QA
    gate before cosine/ANN indexing (a bimodal norm histogram means
    two embedding versions got mixed; zero vectors divide-by-zero a
    cosine; a fat low-norm tail means truncated inputs upstream).

    Determinism: the same exact-integer quantization contract as
    `op_embedding_gram` (power-of-two scale ⇒ exact float→int), the
    binary-string-length log2 idiom for bins, exact counts — no
    sqrt, no floating norm anywhere.

    Scale: per-row HOF fold (JVM-side, no Python) + a two-phase
    aggregate to ≤63 bins. One corpus scan, metadata-sized output at
    any corpus size."""
    return Q(spark, sf_dir, _NORM_AUDIT_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_ann_recall_at_k — ANN accuracy audit (recall vs brute-force truth)
# ---------------------------------------------------------------------------

def _ann_recall_oracle() -> str:
    """Compose the two registered oracles (brute = ground truth, LSH =
    the audited index) — nested WITH inside a CTE body is legal SQL,
    and reusing the registered texts verbatim guarantees the audit
    measures exactly the shipped operators, not a paraphrase."""
    from . import REGISTRY

    brute = REGISTRY["op_similarity"].oracle
    approx = REGISTRY["op_similarity_lsh"].oracle
    return f"""
    WITH brute AS ({brute}),
    approx AS ({approx})
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           CAST(floor(1000000.0 * count(a.neighbor_id) / count(*))
                AS BIGINT) AS recall_ppm
    FROM brute b
    LEFT JOIN approx a ON a.query_id = b.query_id
                      AND a.neighbor_id = b.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
"""


@register("op_ann_recall_at_k", oracle=_ann_recall_oracle(),
          tags=("llm", "similarity"))
def op_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit: per query, how many of the brute-force top-3
    (`op_similarity`, the exact ground truth) the LSH index
    (`op_similarity_lsh`) actually returned — recall@k in floor-ppm.
    This closes the accuracy-audit trio (`op_minhash_est_vs_exact`
    for sketches, the HLL/percentile tolerance booleans for
    aggregates, this for ANN): the number a 100 TB deployment reads
    before trading brute-force cost for bucketed recall, and the
    regression gate to re-run after every bucket/probe re-tune.

    Determinism: both sides are the REGISTERED operators composed
    verbatim (the engine calls their registry callables, the oracle
    nests their oracle texts), so the audit can never drift from what
    ships; hit counting is an equi-join on (query, neighbor) ids.

    Scale: the audit adds two joins over the top-k result tables —
    (queries × k)-sized, metadata next to the searches themselves.
    Auditing on a sampled query set (vec_id < 10 here) is the
    production pattern: recall estimates concentrate fast, so the
    audit cost stays fixed as the corpus grows."""
    from . import REGISTRY

    b = (REGISTRY["op_similarity"].spark(spark, sf_dir)
         .select("query_id", "neighbor_id"))
    a = (REGISTRY["op_similarity_lsh"].spark(spark, sf_dir)
         .select("query_id", "neighbor_id")
         .withColumn("hit", F.lit(1)))
    return (b.join(a, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("k"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint")
                 .alias("hits"))
            .withColumn("recall_ppm",
                        F.expr("CAST(floor(1000000.0 * hits / k)"
                               " AS BIGINT)"))
            .orderBy("query_id"))


# Render module constants into the plain-string docstring post-definition
# (f-string docstrings are expressions — __doc__ None; meta-test pins it).
op_label_noise.__doc__ = op_label_noise.__doc__.replace(
    "{_LN_K}", str(_LN_K))
op_similarity_lsh_multiprobe.__doc__ = (
    op_similarity_lsh_multiprobe.__doc__.replace(
        "{_N_PLANES}", str(_N_PLANES)))


# ---------------------------------------------------------------------------
# op_ann_bucket_balance — LSH bucket-size balance audit
# ---------------------------------------------------------------------------

_BUCKET_BALANCE_SPARK_SQL = f"""
    WITH b AS (
      SELECT CAST({{BUCKET}} AS BIGINT) AS bucket FROM embeddings),
    k AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY bucket),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(c) AS BIGINT) AS n_vectors,
                 CAST(max(c) AS BIGINT) AS max_bucket_size,
                 CAST(sum(CAST(c AS DECIMAL(38, 0)) * c) AS DOUBLE)
                   AS sum_c2,
                 CAST(sum(CAST(c AS DECIMAL(38, 0))) AS DOUBLE) AS sn
          FROM k)
    SELECT n_buckets, n_vectors, max_bucket_size,
           CAST(floor(1000000.0 * max_bucket_size / n_vectors) AS BIGINT)
             AS max_share_ppm,
           CAST(floor(1000000.0 * sum_c2 / (sn * sn))
             AS BIGINT) AS collision_ppm
    FROM m
"""


@register(
    "op_ann_bucket_balance",
    oracle=_BUCKET_BALANCE_SPARK_SQL.replace(
        "{BUCKET}", _duck_bucket("embedding")),
    tags=("llm", "similarity"),
)
def op_ann_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-balance audit over `op_similarity_lsh`'s exact
    hyperplane-sign signature (shared `_spark_bucket`/`_duck_bucket`
    formulas, so the audit cannot drift from the index it audits):
    bucket count, the largest bucket's share, and the COLLISION RATE
    Σc²/n² in floor-ppm — the probability two random vectors share a
    bucket, which is precisely the size driver of the LSH family's
    candidate equi-join (expected candidate pairs = collision_ppm ·
    n²/10⁶). Read this BEFORE shipping a hyperplane config at 100 TB:
    balanced buckets ⇒ collision ≈ 1/n_buckets; a hot bucket shows up
    here as max_share_ppm long before it shows up as one straggler
    task doing the whole rerank.

    Determinism: the signature is the established engine-identical
    integer-hyperplane formula; counts exact; Σc and Σc² accumulate as
    DECIMAL(38,0) before the double cast (a BIGINT Σc² — and even
    Σc·Σc — wraps on Spark past ~3e9 vectors while DuckDB promotes to
    HUGEINT; the assortativity overflow class, fixed at birth here);
    two floor-ppm divides with identical operand order.

    Scale: one narrow per-row signature projection (JVM HOF, no
    Python), one two-phase count to ≤256 (2^n_planes) rows, one 1-row
    rollup. Map-side combine carries ≤256 partial cells per task."""
    return Q(spark, sf_dir, _BUCKET_BALANCE_SPARK_SQL.replace(
        "{BUCKET}", _spark_bucket("embedding")))


# ---------------------------------------------------------------------------
# op_centroid_drift — per-label embedding drift between corpus halves
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_SPARK_SQL = """
    WITH q AS (
      SELECT label, vec_id % 2 AS half, pos + 1 AS pos,
             CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS vq
      FROM embeddings
      LATERAL VIEW posexplode(embedding) t AS pos, v),
    c AS (
      SELECT label, pos,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN half = 0 THEN vq ELSE 0 END) AS BIGINT)
               AS s_a,
             CAST(sum(CASE WHEN half = 1 THEN vq ELSE 0 END) AS BIGINT)
               AS s_b
      FROM q GROUP BY label, pos),
    d AS (
      SELECT label, pos, n_a, n_b,
             abs(CAST(floor(CAST(s_a AS DOUBLE) / n_a) AS BIGINT)
                 - CAST(floor(CAST(s_b AS DOUBLE) / n_b) AS BIGINT))
               AS dq
      FROM c WHERE n_a > 0 AND n_b > 0)
    SELECT CAST(label AS BIGINT) AS label,
           max(n_a) AS n_a, max(n_b) AS n_b,
           CAST(sum(dq) AS BIGINT) AS l1_drift_q20,
           CAST(max(dq) AS BIGINT) AS max_dim_drift_q20,
           CAST(min(CASE WHEN dq = mx THEN pos END) AS BIGINT)
             AS argmax_dim
    FROM (SELECT *, max(dq) OVER (PARTITION BY label) AS mx FROM d)
    GROUP BY label ORDER BY label
"""

_CENTROID_DRIFT_DUCK_SQL = _CENTROID_DRIFT_SPARK_SQL.replace(
    """FROM embeddings
      LATERAL VIEW posexplode(embedding) t AS pos, v),""",
    f"""FROM (SELECT label, vec_id, i.i - 1 AS pos,
                   CAST(embedding[i.i] AS DOUBLE) AS v
            FROM embeddings,
                 (SELECT unnest(range(1, {_DIM + 1})) AS i) i)),""")


@register("op_centroid_drift", oracle=_CENTROID_DRIFT_DUCK_SQL,
          tags=("llm", "vector"))
def op_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift between two corpus halves (vec_id
    parity — the stand-in for yesterday's crawl vs today's): the L1
    distance and the max per-dimension gap between the halves' mean
    embeddings, in exact 2^-20 fixed-point units, plus WHICH dimension
    moved most — the drift monitor a training pipeline runs before
    trusting yesterday's classifier centroids (`op_label_centroid`)
    on today's data (a drifting label is re-embedding time; a single
    hot dimension is usually a featurizer bug).

    Determinism: `op_label_centroid`'s quantize-then-sum contract
    (elements floor to q20 BIGINT before summing — order-independent),
    per-half floored means as exact integers, and the drift stays
    INTEGER end to end (per-dim |Δ|, an integer sum over 64 dims, an
    integer max, arg-min-of-argmax ties on the dimension index) — no
    double fold order anywhere, unlike an L2 with its per-dim squares.
    Labels present in only one half are excluded by predicate.

    Scale: posexplode to (label, half, pos) grain with map-side
    partial sums — the shuffle carries ≤ |labels|·64·2 cells per task
    regardless of corpus size; everything after is cell-table-sized
    (one |labels|·64 window for the argmax, |labels| output rows)."""
    return Q(spark, sf_dir, _CENTROID_DRIFT_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_semdedup — semantic dedup within trained k-means cells (r11)
# ---------------------------------------------------------------------------

_SEMDEDUP_TOPK = 3
#: SemDeDup's OWN cell count — the paper's quadratic-work knob turned:
#: per-cell pairs are (n/k)²/2, and the shared index k=8 left
#: 1250-vector cells at sf1 (6.2 M pair dots, measured 118 s). k=64
#: puts ~156 vectors per cell at sf1 (0.8 M pairs, 19.6 s vs the
#: oracle's 10.7 s = 1.83×, falling from 7.2× at sf0.1; the
#: fixture's 1000-vector tier still gives ≥3 pairs per cell).
_SEMDEDUP_K = 64


def _semdedup_tail(dot_a_b: str, nrm: str) -> str:
    """Shared tail over an `asg`(vec_id, cluster_id) assignment CTE:
    per-cluster top-k most-similar pairs by exact-fold cosine."""
    return f"""
    , ev AS (
      SELECT e.vec_id, a.cluster_id, e.embedding, {nrm} AS nrm
      FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
    pr AS (
      SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {dot_a_b} / (a.nrm * b.nrm) AS cosine
      FROM ev a JOIN ev b ON b.cluster_id = a.cluster_id
                         AND a.vec_id < b.vec_id),
    rk AS (
      SELECT cluster_id, vec_a, vec_b, cosine,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY cosine DESC, vec_a, vec_b)
               AS rn
      FROM pr)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id, vec_a, vec_b,
           round(cosine, 6) AS cosine,
           CAST(rn AS BIGINT) AS pair_rank
    FROM rk WHERE rn <= {_SEMDEDUP_TOPK}
    ORDER BY cluster_id, pair_rank
"""


def _semdedup_oracle() -> str:
    base = _ivf_oracle(_SEMDEDUP_K).strip()
    # wrap the IVF oracle's final SELECT as the `asg` CTE
    head, final = base.rsplit("SELECT vec_id, cid AS cluster_id", 1)
    asg = ("SELECT vec_id, cid AS cluster_id" +
           final.replace(", dist AS dist_scaled", "", 1))
    return (head + ", asg AS MATERIALIZED (" + asg + ")"
            + _semdedup_tail(_duck_dot("a.embedding", "b.embedding"),
                             _DUCK_NORM.replace("embedding", "e.embedding")))


@register("op_semdedup", oracle=_semdedup_oracle(),
          tags=("llm", "dedup", "similarity"))
def op_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate discovery
    restricted to TRAINED k-means cells — the corpus is clustered
    with the SAME Lloyd's kernel as `op_ann_ivf` (`_ivf_model` /
    `_ivf_assign`, k parameterized), then
    all-pairs cosine runs ONLY inside each cell, surfacing the top-3
    most-similar pairs per cell (the fixture's max pairwise cosine is
    ~0.5, so a paper-style 0.95 threshold would be vacuous — ranking
    exercises identical semantics, the `dedup_embedding_cosine`
    precedent; a production run thresholds the same pair stream).
    Versus the hyperplane-LSH keys: SemDeDup's buckets are DATA-
    ADAPTIVE (centroids follow density), which is why it became the
    standard semantic-level pass after exact/minhash dedup.

    Determinism: the assignment is the fixed-point k-means contract
    of `op_ann_ivf` (exact integers end-to-end); cosines use the
    dimension-sequential fold (`_spark_dot`/`_duck_dot` — the
    bit-identical left-fold both engines share); per-cluster rank is
    a total order (cosine DESC, vec ids).

    Scale: the pair join is an EQUI-join on cluster_id (never a
    cartesian) — per-cell pairs are (n/k)²/2, so k is the explicit
    quadratic-work knob exactly as in the paper (they run k ≈ 11k on
    LAION; `_SEMDEDUP_K`=64 here — turned after the shared k=8 index
    measured 118 s at sf1, 19.6 s at k=64), and `op_ann_bucket_balance`
    measures the skew that would concentrate it; the per-cluster
    top-k is WindowGroupLimit-eligible (k rows per cell per partition
    cross the exchange)."""
    e, cents = _ivf_model(spark, sf_dir, _SEMDEDUP_K)
    asg = (_ivf_assign(e, cents)
           .select("vec_id", F.col("cid").alias("cluster_id")))
    from ..caching import scoped_checkpoint

    # the k-means training embeds eager model collects; checkpoint the
    # assignment once — the tail references it twice (both pair
    # sides), and a re-executed assignment re-runs the k-means jobs
    asg = scoped_checkpoint(asg)
    asg.createOrReplaceTempView("_semdedup_asg")
    ev = Q(spark, sf_dir, f"""
        SELECT e.vec_id, a.cluster_id, e.embedding,
               {_SPARK_NORM.replace('embedding', 'e.embedding')} AS nrm
        FROM embeddings e JOIN _semdedup_asg a ON a.vec_id = e.vec_id""")
    ev.createOrReplaceTempView("_semdedup_ev")
    return spark.sql(f"""
        WITH pr AS (
          SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 {_spark_dot('a.embedding', 'b.embedding')}
                   / (a.nrm * b.nrm) AS cosine
          FROM _semdedup_ev a JOIN _semdedup_ev b
            ON b.cluster_id = a.cluster_id AND a.vec_id < b.vec_id),
        rk AS (
          SELECT cluster_id, vec_a, vec_b, cosine,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY cosine DESC, vec_a, vec_b)
                   AS rn
          FROM pr)
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id, vec_a, vec_b,
               round(cosine, 6) AS cosine,
               CAST(rn AS BIGINT) AS pair_rank
        FROM rk WHERE rn <= {_SEMDEDUP_TOPK}
        ORDER BY cluster_id, pair_rank""")
