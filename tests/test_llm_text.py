"""Text-dedup operator contracts the SQL oracle cannot see on its own:
the size-gated verification-shape switch of `op_minhash_dedup` (the
oracle only ever sees one result set; the gate picks between two
exact-equivalent physical shapes) and its hash-equality across shapes,
plus the zero-job build, persist budget and single corpus pass of the
`_minhash_candidates` builder every MinHash key shares.
"""

from __future__ import annotations

import re

import pytest

from blockchain_data_ingestion_spark.queries import llm_text, load_all


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_rejoin_variant_hash_equal(spark, sf_dir, monkeypatch):
    """The two verification shapes are EXACT equivalents: identical
    rows, identical schema, on the same corpus. `inline` rides the
    shingle set on band rows (fast at fixture scale); `rejoin` keeps
    band rows payload-free and re-joins the shingle index on doc_id
    (the 100 TB shape — VERDICT r13 item 2). A fixture 'straddles the
    threshold' by monkeypatching the gate both ways around the
    fixture's actual ~300 B/doc average."""
    q = load_all()["op_minhash_dedup"].spark
    # far above the fixture average → auto picks inline
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    inline = q(spark, sf_dir)
    # below the fixture average → auto picks rejoin on the SAME corpus
    monkeypatch.setattr(llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1)
    rejoin = q(spark, sf_dir)
    assert inline.columns == rejoin.columns
    assert _rows(inline) == _rows(rejoin)


def test_minhash_rejoin_band_rows_carry_no_payload(spark, sf_dir,
                                                   monkeypatch):
    """Plan assertion for the gate, both directions: the rejoin shape
    must have NO collect_list feeding the band self-join (that array is
    exactly the doc-sized payload the shape exists to keep out of the
    candidate shuffle), and the inline shape must still use it (the
    measured ~2.8× fixture-scale win must not silently vanish)."""
    q = load_all()["op_minhash_dedup"].spark
    monkeypatch.setattr(llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1)
    plan = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan, (
        "rejoin shape still re-nests shingles onto band rows")
    assert "array_intersect" not in plan
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    plan = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan and "array_intersect" in plan


#: Every registry key built on `_minhash_candidates`.
_MINHASH_KEYS = ["op_minhash_dedup", "op_incremental_dedup",
                 "op_minhash_est_vs_exact", "op_minhash_threshold_sweep"]


@pytest.mark.parametrize("key", _MINHASH_KEYS)
def test_minhash_gate_is_metadata_only(spark, sf_dir, key):
    """The gates read parquet footers, not the cluster: building the
    plan launches zero Spark jobs (the band-table persist is lazy)."""
    from blockchain_data_ingestion_spark.catalog import (
        query_sql, table_column_avg_bytes)

    avg = table_column_avg_bytes(sf_dir, "documents", "text")
    assert avg is not None and 0 < avg < 16_384  # fixture docs are small
    query_sql(spark, sf_dir, "SELECT 1")  # warm every view's first touch
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    load_all()[key].spark(spark, sf_dir)
    assert set(tracker.getJobIdsForGroup(None)) == before


@pytest.mark.parametrize("shape", ["inline", "rejoin"])
def test_minhash_inline_cache_gate_is_byte_budgeted(spark, sf_dir,
                                                    monkeypatch, shape):
    """The MinHash persists are gated on estimated TOTAL corpus text
    bytes in both verification shapes (VERDICT r15 item 3): the inline
    band table carries the full shingle payload per doc and the rejoin
    shingle index is ~3x the corpus, so a large corpus must not write
    that to executor local disk. Under budget the plan carries an
    InMemoryRelation; over budget the SAME logical plan runs
    unpersisted — and the results are identical either way."""
    q = load_all()["op_minhash_dedup"].spark
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES",
        1 << 30 if shape == "inline" else 1)
    monkeypatch.setattr(
        llm_text, "_MINHASH_CACHE_MAX_TOTAL_TEXT_BYTES", 1 << 40)
    from blockchain_data_ingestion_spark.caching import release_all

    cached = q(spark, sf_dir)
    plan = cached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, f"under-budget {shape} lost its persist"
    cached_rows = _rows(cached)
    release_all()  # else the CacheManager substitutes the live persist
    monkeypatch.setattr(
        llm_text, "_MINHASH_CACHE_MAX_TOTAL_TEXT_BYTES", 1)
    uncached = q(spark, sf_dir)
    plan = uncached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, (
        f"over-budget {shape} still persists a corpus-scale table")
    # still the requested verification shape
    assert ("collect_list" in plan) == (shape == "inline")
    assert cached_rows == _rows(uncached)


@pytest.mark.parametrize("key", _MINHASH_KEYS[1:])
def test_minhash_keys_scan_documents_once(spark, sf_dir, key):
    """One signature pass feeds both sides of the band self-join: the
    executed plan has a single documents scan. (A plan that derives each
    join side on its own scans twice — the round-robin REPARTITION
    exchange blocks exchange reuse, see
    plans/r15/op_minhash_dedup_before.txt.) The formatted explain gives
    a node one id however often the tree prints it."""
    df = load_all()[key].spark(spark, sf_dir)
    df.collect()
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(df._jdf.queryExecution(), "formatted")
    assert "isFinalPlan=true" in plan
    scans = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scans) == 1, f"{key} scans documents {len(scans)} times"
