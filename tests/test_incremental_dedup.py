"""Incremental near-dup filtering == offline replay of the same pair
relation (keep iff no smaller-id neighbor), regardless of how the
corpus is batched; plus the foreachBatch wiring end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators import dedup as D
from ariadne_cartograph_spark.sources.tables import load_table
from ariadne_cartograph_spark.streaming.docs import incremental_near_dup_filter

SF = "/root/testdata/sf0.001"
THRESH = 0.6


def _offline_kept(spark):
    """Offline twin: same LSH candidates + exact-Jaccard pair relation
    (minhash_near_dup_pairs), kept = docs with no smaller-id pair."""
    docs = load_table(spark, SF, "documents")
    pairs = D.minhash_near_dup_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=8, threshold=THRESH
    ).collect()
    dropped = {r.id_b for r in pairs}  # id_a < id_b always
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    D.release_caches()
    return all_ids - dropped


def test_incremental_equals_offline_any_batching(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    want = _offline_kept(spark)

    store = str(tmp_path / "store")
    kept_ids: set[int] = set()
    # three uneven id-ordered batches
    for lo, hi in [(0, 30), (30, 37), (37, 10_000)]:
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        kept = incremental_near_dup_filter(
            spark, batch, store, threshold=THRESH
        )
        kept_ids |= {r.doc_id for r in kept.select("doc_id").collect()}
    assert kept_ids == want


def test_incremental_single_batch_equals_offline(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    want = _offline_kept(spark)
    kept = incremental_near_dup_filter(
        spark, docs, str(tmp_path / "store1"), threshold=THRESH
    )
    assert {r.doc_id for r in kept.select("doc_id").collect()} == want


def test_incremental_short_docs_no_divide_by_zero(spark, tmp_path):
    """Sub-shingle-length docs share their NULL-filled minhash bands,
    so empty-set pairs reach the verify across batches: the 0/0
    Jaccard must reject the pair (NULL), not raise an ANSI
    divide-by-zero inside the batch — and the short docs all stay
    kept (they pair with nothing, matching the offline relation)."""
    b1 = spark.createDataFrame(
        [(1, "tiny"), (2, "some longer filler document body one two")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "tiny"), (4, "ti ny"), (5, "some longer filler document body one two")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store_short")
    kept = set()
    for b in (b1, b2):
        out = incremental_near_dup_filter(spark, b, store, threshold=THRESH)
        kept |= {r.doc_id for r in out.collect()}
    # 5 is an exact dup of 2 -> dropped; every short doc survives
    assert kept == {1, 2, 3, 4}


def test_verify_stage_is_candidate_bounded(spark, tmp_path):
    """Scale evidence for the per-batch cost bound: the stored-shingle
    fetch must be (a) partition-pruned to the candidate buckets —
    static __bucket IN (...) filters on the scan, and (b) a broadcast
    LeftSemi against the candidate ids — never a store-wide shuffle or
    dropDuplicates. A store-wide pass here made batch cost grow with
    corpus lifetime (the r4 finding)."""
    import os

    from ariadne_cartograph_spark.streaming.docs import (
        N_BUCKETS,
        _dropped_ids,
        _next_batch_id,
    )

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store_plan")
    # seed the store with most of the corpus, then probe a small batch
    incremental_near_dup_filter(
        spark, docs.filter(F.col("doc_id") < 60), store, threshold=THRESH
    )
    incremental_near_dup_filter(
        spark, docs.filter(F.col("doc_id") >= 60), store, threshold=THRESH
    ).collect()
    index_dir = os.path.join(store, "index")
    dropped = _dropped_ids(
        spark,
        spark.read.parquet(index_dir),
        _next_batch_id(index_dir) - 1,
        "doc_id",
        THRESH,
    )
    dropped.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        dropped._jdf.queryExecution(), "formatted"
    )
    scans = [b for b in plan.split("\n\n") if "index" in b and "Scan parquet" in b]
    assert scans, "unified index is not scanned via parquet"

    def _pf(block):
        return next(l for l in block.splitlines() if "PartitionFilters" in l)

    # every scan that reads the shingle payload must be partition-
    # pruned (__bucket IN for the candidate fetch, __batch = N for the
    # batch's own rows) — never an unpruned store-wide payload scan
    payload_scans = [b for b in scans if "sh:" in b or "sh#" in b]
    assert payload_scans, "no scan reads the shingle payload"
    for scan in payload_scans:
        pf = _pf(scan)
        assert ("__bucket" in pf and " IN " in pf) or "__batch" in pf, (
            "payload scan not partition-pruned:\n" + scan
        )
    # and at least one of them is the bucket-pruned candidate fetch
    assert any(
        "__bucket" in _pf(s) and " IN " in _pf(s) for s in payload_scans
    ), "candidate fetch not bucket-pruned"
    # the store side must reach the verify join via broadcast LeftSemi
    assert "LeftSemi" in plan
    # and no shingle array may ride a shuffle partitioning (store-wide
    # dropDuplicates would): every Exchange keys on ids/buckets only
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "sh#" not in line and "sh_old" not in line and "sh_new" not in line, (
                "shingle arrays shuffled: " + line
            )
    assert 0 < N_BUCKETS <= 256


def test_legacy_store_rejected_with_clear_error(spark, tmp_path):
    """A store in the pre-r14 two-table layout (bands/ + shingles/
    subdirectories) must fail the batch up front with an explicit
    rebuild instruction, not an opaque unresolved-column or
    missing-path error mid-plan (r14 ADVICE, extended to the unified
    format change)."""
    import os

    import pytest

    from ariadne_cartograph_spark.streaming.docs import _bucket, _index_batch

    doc = spark.createDataFrame(
        [(1, "some longer filler document body one two")],
        "doc_id long, text string",
    )
    idx = _index_batch(doc, "doc_id", "text", 32, 8, 3).localCheckpoint(eager=True)
    store = str(tmp_path / "store_old")
    # hand-write the legacy layout: a bands table and a shingles table
    idx.select("doc_id", "band_idx", "band_hash").write.parquet(
        os.path.join(store, "bands")
    )
    (
        idx.filter(F.col("band_idx") == 0)
        .select("doc_id", "sh")
        .withColumn("__bucket", _bucket(F.col("doc_id")))
        .write.partitionBy("__bucket")
        .parquet(os.path.join(store, "shingles"))
    )
    dup = spark.createDataFrame(
        [(2, "some longer filler document body one two")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="predates the r14"):
        incremental_near_dup_filter(spark, dup, store, threshold=THRESH)
